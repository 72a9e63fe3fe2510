package graft

import org.apache.spark.sql.functions._

import graft.functions.SimHash64

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim: parallel, orthogonal, opposite, zero vectors") {
    val df = Seq(
      (1L, Array(1f, 0f), Array(2f, 0f)),   // parallel → 1
      (2L, Array(1f, 0f), Array(0f, 3f)),   // orthogonal → 0
      (3L, Array(1f, 0f), Array(-1f, 0f)),  // opposite → -1
      (4L, Array(0f, 0f), Array(1f, 1f)))   // zero norm → 0 (guard)
      .toDF("id", "a", "b")
    val out = df.selectExpr("id", "cosine_sim(a, b) AS c")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) == -1.0)
    assert(out(4L) == 0.0)
  }

  test("cosine_sim matches built-in aggregate/zip_with formulation") {
    val e = model.Tables.embeddings(spark, sf).limit(100)
    val both = e.selectExpr(
      "cosine_sim(embedding, embedding) AS custom",
      """aggregate(zip_with(embedding, embedding,
        |  (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        |/ (sqrt(aggregate(zip_with(embedding, embedding,
        |  (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)) *
        |  sqrt(aggregate(zip_with(embedding, embedding,
        |  (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        |  CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin + " AS builtin")
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine_sim null propagates") {
    val df = Seq((Option(Array(1f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(df.selectExpr("cosine_sim(a, b)").head().isNullAt(0))
  }

  test("dot_product null semantics match the built-in fold exactly") {
    // the RewriteDotProducts optimizer rule swaps the built-in idiom for
    // DotProduct on ANY float arrays (incl. containsNull=true, what
    // parquet reads) — sound only if null handling is identical: NULL on
    // length mismatch (zip_with pads with null) and on any null element.
    val df = Seq(
      (1L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f), Some(4f))),
      (2L, Seq[Option[Float]](Some(1f), None), Seq[Option[Float]](Some(3f), Some(4f))),
      (3L, Seq[Option[Float]](Some(1f), Some(2f)), Seq[Option[Float]](Some(3f))))
      .toDF("id", "a", "b")
    val rows = df.selectExpr("id", "dot_product(a, b) AS custom",
      """aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        |CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS builtin""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"id=${r.getLong(0)}: $r")
      if (!r.isNullAt(1)) assert(r.getDouble(1) == r.getDouble(2))
    }
    assert(rows.count(_.isNullAt(1)) == 2)
  }

  test("simhash64: pinned values, identity, and locality") {
    // pinned: the fingerprint is a stable contract (rows-only driver
    // checks re-run the query, so cross-run stability matters)
    val h1 = SimHash64.ofTokens(Seq("spark", "query", "engine"))
    assert(h1 == SimHash64.ofTokens(Seq("spark", "query", "engine")))
    // permutation of a token multiset → identical simhash (bag semantics)
    assert(h1 == SimHash64.ofTokens(Seq("engine", "spark", "query")))
    // near-identical docs → small hamming; disjoint docs → larger
    val doc = (1 to 60).map(i => s"tok$i")
    val near = SimHash64.ofTokens(doc.updated(3, "changed"))
    val far = SimHash64.ofTokens((1 to 60).map(i => s"other$i"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(SimHash64.ofTokens(doc), near) < ham(SimHash64.ofTokens(doc), far))
  }

  test("simhash64 expression agrees with direct computation") {
    val df = Seq((1L, "spark query engine")).toDF("id", "text")
    val viaSql = df.selectExpr("simhash64(split(text, ' '))").head().getLong(0)
    assert(viaSql == SimHash64.ofTokens(Seq("spark", "query", "engine")))
  }

  test("bounded_edit_distance == min(levenshtein, k+1), codegen and eval alike") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    def full(a: String, b: String): Int = {
      // reference: classic full-table DP over code points
      val x = a.codePoints().toArray; val y = b.codePoints().toArray
      val dp = Array.tabulate(x.length + 1)(i => Array.tabulate(y.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0
      })
      for (i <- 1 to x.length; j <- 1 to y.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      dp(x.length)(y.length)
    }
    val cases = Seq(
      ("", "", 0), ("", "abc", 3), ("abc", "", 1), ("kitten", "sitting", 2),
      ("kitten", "sitting", 0), ("abcdefgh", "abcdefgh", 3),
      ("aaaaaaaaaa", "bbbbbbbbbb", 4), // every band cell busts: early exit
      ("abcde", "abxde", 1), ("abcde", "xbcdx", 1),
      ("a" * 50, "a" * 50 + "b" * 10, 5), // length gap 10 > k=5
      ("ábç", "abc", 2), ("ábç", "abc", 1), // non-ASCII code points
      ("prefix common then diverge x", "prefix common then diverge y", 3))
    for ((a, b, k) <- cases) {
      val want = math.min(full(a, b), k + 1)
      val got = graft.functions.EditDistance.bounded(
        UTF8String.fromString(a), UTF8String.fromString(b), k)
      assert(got == want, s"bounded('$a','$b',$k) = $got, want $want")
    }
    // through SQL (exercises the codegen path) and against Spark's own
    // levenshtein, same unit conventions, on a generated pair table
    val pairs = (0 until 64).map { i =>
      val base = s"document body $i " + ("tok " * (i % 9))
      val mut = base.patch(i % math.max(1, base.length),
        if (i % 3 == 0) "XYZ" else "", i % 4)
      (base, mut)
    }
    val df = pairs.toDF("a", "b")
    val rows = df.selectExpr("a", "b", "bounded_edit_distance(a, b, 6) AS bd",
      "levenshtein(a, b) AS lv").collect()
    for (r <- rows)
      assert(r.getInt(2) == math.min(r.getInt(3), 7),
        s"pair ('${r.getString(0)}','${r.getString(1)}')")
    // the d17 = d12 same-answer contract on the real corpus
    val viaFull = ops.Dedup.d12.run(spark, sf).collect().toSeq
    val viaBand = ops.Dedup.d17.run(spark, sf).collect().toSeq
    assert(viaFull == viaBand, "banded verify changed d12's answer")
  }
}
