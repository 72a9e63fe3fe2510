package graft

class DedupSpec extends SparkSpec {

  test("minhash LSH candidates contain every high-Jaccard pair") {
    val exact = ops.Dedup.d02.run(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = ops.Dedup.d03.run(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(exact.subsetOf(cand),
      s"missing: ${exact.diff(cand).take(5)}")
  }

  test("exact dedup keeps one keeper per digest with n_copies = 2") {
    val rows = ops.Dedup.d01.run(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(2) == 2L))
    val keepers = rows.map(_.getLong(1))
    assert(keepers.distinct.length == keepers.length)
  }

  /** Runs `body` with the engine's token-hash family pinned: fast=true →
    * production FNV-1a, fast=false → md5 oracle family. */
  private def withHashFamily[A](fast: Boolean)(body: => A): A =
    try { spark.conf.set("spark.graft.fasthash", fast.toString); body }
    finally spark.conf.unset("spark.graft.fasthash")

  private def families = Seq(false -> "md5", true -> "fnv")

  test("simhash recall of the Jaccard near-dups is quantified, both hash families") {
    // Recall is a STATISTICAL property of the token-hash family, not an
    // invariant: a planted Jaccard≥0.8 pair can land past the Hamming
    // threshold for one family and inside it for another (under md5 one
    // pair sits at Hamming 11 > 8; under FNV all 28 land inside — hash
    // luck either way). So the assertion is quantified, with every miss
    // logged alongside its actual Hamming distance.
    import org.apache.spark.sql.functions._
    val exact = ops.Dedup.d02.run(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    for ((fast, label) <- families) withHashFamily(fast) {
      val sim = ops.Dedup.d05.run(spark, sf)
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val misses = exact.diff(sim)
      val recall = (exact.size - misses.size).toDouble / exact.size
      if (misses.nonEmpty) {
        val mode = if (fast) "" else ", 'md5'"
        val fp = model.Tables.documents(spark, sf)
          .select(col("doc_id"), expr(s"simhash64(split(text, ' ')$mode)").as("h"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        misses.foreach { case (i, j) =>
          info(s"[$label] missed pair ($i,$j) at Hamming " +
            java.lang.Long.bitCount(fp(i) ^ fp(j)))
        }
      }
      info(f"[$label] recall = $recall%.3f (${exact.size - misses.size}/${exact.size})")
      assert(recall >= 0.95, s"[$label] recall $recall < 0.95; missed $misses")
    }
  }

  test("simhash64 hash families: md5 mode matches ofTokens(md5), fnv is the default") {
    import spark.implicits._
    val df = Seq((1L, "spark query engine")).toDF("id", "text")
    val toks = Seq("spark", "query", "engine")
    val r = df.selectExpr(
      "simhash64(split(text, ' ')) AS fnv_default",
      "simhash64(split(text, ' '), 'fnv') AS fnv_explicit",
      "simhash64(split(text, ' '), 'md5') AS md5").head()
    assert(r.getLong(0) == graft.functions.SimHash64.ofTokens(toks))
    assert(r.getLong(1) == r.getLong(0))
    assert(r.getLong(2) == graft.functions.SimHash64.ofTokens(toks, md5Mode = true))
    assert(r.getLong(2) != r.getLong(0), "families should differ on this input")
  }

  test("d07 bucketed simhash returns exactly d05's all-pairs result, both families") {
    // pigeonhole guarantee: Hamming ≤ 8 over 9 blocks ⇒ ≥1 block equal,
    // so candidates ⊇ true pairs; the exact verifier then makes the two
    // queries set-identical, not merely overlapping. The law is
    // structural — it must hold under BOTH token-hash families.
    for ((fast, label) <- families) withHashFamily(fast) {
      val allPairs = ops.Dedup.d05.run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val bucketed = ops.Dedup.d07.run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(allPairs.nonEmpty, s"[$label] corpus should contain simhash near-dups")
      assert(bucketed == allPairs,
        s"[$label] missing=${allPairs.diff(bucketed).take(5)} extra=${bucketed.diff(allPairs).take(5)}")
    }
  }

  test("d09 production simhash equals the all-pairs Hamming<=3 reference, both families") {
    import org.apache.spark.sql.functions._
    for ((fast, label) <- families) withHashFamily(fast) {
      val mode = if (fast) "" else ", 'md5'"
      val h = model.Tables.documents(spark, sf)
        .select(col("doc_id"), expr(s"simhash64(split(text, ' ')$mode)").as("h"))
      val reference = h.as("a")
        .join(h.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
          expr("bit_count(a.h ^ b.h)").cast("long").as("d"))
        .filter(col("d") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val bucketed = ops.Dedup.d09.run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(reference.nonEmpty, s"[$label] corpus should contain Hamming<=3 pairs")
      assert(bucketed == reference,
        s"[$label] missing=${reference.diff(bucketed).take(5)} extra=${bucketed.diff(reference).take(5)}")
    }
  }

  test("t06 winnow candidates contain the word-level high-Jaccard pairs") {
    val exact = ops.Dedup.d02.run(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnowed = ops.TextAnalysis.t06.run(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(winnowed), s"missing: ${exact.diff(winnowed).take(5)}")
  }

  test("d11 cascade: members inherit their representative's cluster") {
    // the cascade law the oracle can't state structurally: every exact
    // copy lands in the SAME cluster as its base doc (pair generation
    // never saw the copy), reps are the min id of their digest group,
    // and the output covers the doubled corpus exactly once
    val rows = ops.Dedup.d11.run(spark, sf).collect()
    val base = model.Tables.documents(spark, sf).select("doc_id", "text")
    val n = base.count()
    val shift = ops.Dedup.copyShift(base)
    assert(rows.length == 2 * n, "one row per member of the doubled corpus")
    val byDoc = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    byDoc.foreach { case (id, (rep, cluster)) =>
      if (id < shift) {
        assert(rep == id, s"original $id must be its own representative")
        val (repShift, clShift) = byDoc(id + shift)
        assert(repShift == id && clShift == cluster,
          s"copy of $id must inherit rep and cluster")
      }
    }
    // rep-tier clustering matches d08's direct clustering of the base corpus
    val direct = ops.Dedup.d08.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDoc.filter(_._1 < shift).foreach { case (id, (_, cluster)) =>
      assert(direct(id) == cluster, s"doc $id: cascade vs direct cluster")
    }
  }

  test("d13 SemDeDup: pruned set is contained in d04's global near-dups") {
    // containment is an INVARIANT (within-cluster pairs ⊆ all pairs at
    // the same threshold and id order); the co-cluster recall of d04's
    // pair set is a statistical property of the clustering — logged,
    // floored loosely
    val globalJ = ops.Dedup.d04.run(spark, sf)
      .select("j").collect().map(_.getLong(0)).toSet
    val rows = ops.Dedup.d13.run(spark, sf).collect()
    val pruned = rows.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(pruned.nonEmpty, "corpus plants embedding near-dups")
    assert(pruned.subsetOf(globalJ),
      s"pruned outside global near-dup set: ${pruned.diff(globalJ).take(5)}")
    val recall = pruned.size.toDouble / globalJ.size
    info(f"co-cluster recall of d04 greater-id set: $recall%.2f " +
      s"(${pruned.size}/${globalJ.size})")
    assert(recall >= 0.2, f"co-cluster recall $recall%.2f collapsed")
  }

  test("d14 dup-span removal: known spans excised, unique docs intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-d14").toString
    // A and B share exactly one 5-gram ("a b c d e"); C is unique;
    // D is shorter than W; E1/E2 are full duplicates of each other.
    Seq(
      (0L, "a b c d e f g h", "en", "web", 15L),
      (1L, "x y a b c d e z", "en", "web", 15L),
      (2L, "p q r s t u v", "en", "web", 13L),
      (3L, "one two", "en", "web", 7L),
      (4L, "m n o p2 q2", "en", "web", 11L),
      (5L, "m n o p2 q2", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ops.Dedup.d14.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def h(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(0L) == ((8L, 5L, h("f g h"))), "A: shared prefix excised")
    assert(out(1L) == ((8L, 5L, h("x y z"))), "B: shared infix excised")
    assert(out(2L) == ((7L, 0L, h("p q r s t u v"))), "C: untouched")
    assert(out(3L) == ((2L, 0L, h("one two"))), "D: shorter than W, intact")
    assert(out(4L) == ((5L, 5L, h(""))), "E1: fully duplicated, collapses")
    assert(out(5L) == ((5L, 5L, h(""))), "E2: fully duplicated, collapses")
  }

  test("d14 on the corpus: removal bounded, exact copies collapse alike") {
    val rows = ops.Dedup.d14.run(spark, sf).collect()
    val docs = model.Tables.documents(spark, sf).count()
    assert(rows.length == docs, "one output row per document")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: removal out of bounds")
    }
    assert(rows.map(_.getLong(2)).sum > 0,
      "corpus plants near-dups; some span must be excised")
    // exact-duplicate texts (d01's digest groups) must clean identically
    val textOf = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cleanOf = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    textOf.groupBy(_._2).values.filter(_.size > 1).foreach { grp =>
      val hashes = grp.keys.map(cleanOf).toSet
      assert(hashes.size == 1,
        s"exact copies ${grp.keys.toSeq.sorted} diverged after excision")
    }
  }

  test("d15: every cluster keeps its max-quality member, ties to min doc_id") {
    val members = ops.Dedup.d08.run(spark, sf)
      .select("doc_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val quality = ops.TextAnalysis.t02.run(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val best = ops.Dedup.d15.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    val grouped = members.groupBy(_._2)
    assert(best.keySet == grouped.keySet, "one row per cluster, no extras")
    grouped.foreach { case (cluster, ms) =>
      val ids = ms.map(_._1)
      val expected = ids.minBy(id => (-quality(id), id))
      val (gotDoc, gotQ, gotN) = best(cluster)
      assert(gotDoc == expected,
        s"cluster $cluster: kept $gotDoc, expected $expected")
      assert(gotQ == quality(expected) && gotN == ids.length.toLong)
    }
    // the selection must actually differ from min-id keeping somewhere,
    // or the operator demonstrates nothing beyond d08
    assert(grouped.exists { case (cluster, ms) =>
      ms.size > 1 && best(cluster)._1 != ms.map(_._1).min
    }, "corpus must contain a cluster whose best member is not the min id")
  }

  test("d16 containment: every excerpt hits its source at 1.0, below Jaccard's radar") {
    val rows = ops.Dedup.d16.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty, "excerpts should surface containment hits")
    // ground truth: a prefix's shingles are a subset of its source's, and
    // the df-cap drops the same shingles from both sides — so every
    // excerpt that surfaced at all must hit its own source at exactly 1.0
    val byEx = rows.groupBy(_._1)
    for ((ex, hits) <- byEx) {
      val self = hits.find(_._2 == ex)
      assert(self.isDefined, s"excerpt $ex never matched its own source")
      assert(self.get._3 == 1.0,
        s"excerpt $ex contained in its source at ${self.get._3}, expected 1.0")
    }
    // the asymmetry claim: recompute both measures for the self pairs in
    // plain Scala (independent of the SQL under test) and show Jaccard
    // sits below the d02/d06 threshold while containment is 1.0 — the
    // excerpt case symmetric dedup provably cannot see
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shinglesOf(words: Seq[String]): Set[String] =
      if (words.size < 3) Set.empty
      else words.sliding(3).map(_.mkString(" ")).toSet
    val df = scala.collection.mutable.Map.empty[String, Int]
    for ((_, t) <- docs; s <- shinglesOf(t.split(" ").toSeq))
      df(s) = df.getOrElse(s, 0) + 1
    val jaccards = byEx.keys.map { ex =>
      val w = docs(ex).split(" ").toSeq
      val exS = shinglesOf(w.take(math.ceil(w.size / 2.0).toInt))
        .filter(df(_) <= 50)
      val srcS = shinglesOf(w).filter(df(_) <= 50)
      assert(exS.subsetOf(srcS)) // prefix-shingle containment, capped alike
      exS.intersect(srcS).size.toDouble / (exS ++ srcS).size
    }
    assert(jaccards.exists(_ < 0.8),
      "corpus has no excerpt whose source-pair Jaccard is below the d02 " +
        "threshold - the asymmetry demo is vacuous")
  }

  test("d18 prefix filtering: output equals d02 exactly; candidates shrink") {
    import org.apache.spark.sql.functions._
    // exactness: prefix filtering is a candidate optimisation, never a
    // semantics change — byte-identical pair set and jaccards vs d02
    val exact = ops.Dedup.d02.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = ops.Dedup.d18.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(viaPrefix == exact)

    // candidate accounting, recomputed from the public shingle function:
    // full inverted index generates Σ df·(df−1)/2 pairs; the prefix index
    // must generate strictly fewer (rarest-first order concentrates
    // prefixes on low-df shingles)
    val sh = model.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
    def candCount(index: org.apache.spark.sql.DataFrame): Long =
      index.groupBy("s").agg(count(lit(1)).as("df"))
        .agg(sum(expr("df * (df - 1) DIV 2"))).collect().head.getLong(0)
    val full = candCount(sh)
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val pref = sh.join(dfreq, "s").join(counts, "doc_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("df", "s")))
      .filter(col("rn") <= col("c") - expr("(4 * c + 4) DIV 5") + 1)
      .select("doc_id", "s")
    val prefixed = candCount(pref)
    info(s"candidate pairs: full inverted index $full, prefix index $prefixed")
    assert(prefixed < full,
      s"prefix filtering must shrink the candidate join ($prefixed vs $full)")
    // and some doc must have a genuinely truncated prefix (non-vacuous)
    assert(pref.groupBy("doc_id").count().join(counts, "doc_id")
      .filter(col("count") < col("c")).count() > 0)
  }

  test("d22 capped prefix filtering: output equals d06 exactly (the " +
    "capped-domain law)") {
    // the production law: capped-domain Jaccard >= 0.8 is exactly what
    // d06 computes over the df<=50 shingle survivors, and the prefix
    // lemma applied AFTER the cap loses no qualifying pair — so the
    // bounded-fanout candidate route must reproduce d06 pair for pair
    // and value for value
    val viaCap = ops.Dedup.d06.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaPrefix = ops.Dedup.d22.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaCap.nonEmpty)
    assert(viaPrefix == viaCap,
      s"capped prefix join diverged from d06: only-prefix=" +
        s"${(viaPrefix -- viaCap).take(5)} only-d06=" +
        s"${(viaCap -- viaPrefix).take(5)}")
  }

  test("d19 CDC chunking: tiling, boundary, shift-robustness, and ledger laws") {
    val docs = model.Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def hex(sd: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(sd.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def gram60(g: String): Long =
      java.lang.Long.parseLong(hex(g).substring(0, 15), 16)
    // sequential reference chunker
    def chunks(text: String): Seq[(Int, String)] = {
      val cuts = (1 to text.length - 7)
        .filter(p => gram60(text.substring(p - 1, p + 7)) % 32 == 0)
        .map(_ + 8)
      val starts = 1 +: cuts
      val ends = cuts :+ (text.length + 1)
      starts.zip(ends).filter { case (s, e) => e > s }
        .map { case (s, e) => (s, text.substring(s - 1, e - 1)) }
    }
    val ref = docs.map { case (id, src, text) =>
      val cs = chunks(text)
      // tiling law: chunks reassemble the document byte for byte
      assert(cs.map(_._2).mkString == text, s"doc $id does not tile")
      (id, src, cs)
    }
    // shift-robustness: prepending a byte re-chunks only the PREFIX -
    // every boundary-to-boundary chunk of the original survives (the
    // property fixed-width blocking lacks, and the reason CDC exists)
    val sample = docs.head._3
    val shifted = "X" + sample
    val origSet = chunks(sample).map(_._2).toSet
    val shiftSet = chunks(shifted).map(_._2).toSet
    val interior = chunks(sample).drop(1).map(_._2)
    assert(interior.forall(shiftSet.contains),
      "interior chunks must survive a 1-byte prefix insertion")
    assert(!origSet.subsetOf(shiftSet) || chunks(sample).size <= 1 ||
      shiftSet != origSet, "shift produced identical chunking - vacuous")
    // ledger law: the catalog rollup equals the sequential ledger
    val all = ref.flatMap { case (id, src, cs) =>
      cs.map { case (pos, c) => (id, src, pos, c.length.toLong, hex(c)) }
    }
    val ownerOf = all.groupBy(_._5)
      .map { case (h, is) => h -> is.map(i => i._1 * 1000000L + i._3).min }
    val expected = all.groupBy(_._2).map { case (src, is) =>
      val dup = is.filter(i => i._1 * 1000000L + i._3 != ownerOf(i._5))
      val bytes = is.map(_._4).sum
      val dupBytes = dup.map(_._4).sum
      src -> ((is.size.toLong, bytes, dup.size.toLong, dupBytes,
        dupBytes * 1000000L / bytes))
    }
    val got = ops.Dedup.d19.run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    assert(got.values.exists(_._3 > 0), "no dup chunks anywhere - vacuous")
    info(s"corpus dup bytes ppm range ${got.values.map(_._5).min}.." +
      s"${got.values.map(_._5).max}")
  }

  test("d19 production family: rolling-hash spans tile and stay shift-robust") {
    import graft.functions.TextFunctions.cdcSpans
    val docs = model.Tables.documents(spark, sf)
      .select("text").collect().map(_.getString(0))
    docs.foreach { t =>
      val spans = cdcSpans(t, md5Mode = false)
      assert(spans.map { case (p, l) => t.substring(p - 1, p - 1 + l) }
        .mkString == t, "fast-family chunks must tile")
    }
    // the two families genuinely cut differently (distinct hash family)
    val sample = docs.maxBy(_.length)
    assert(!cdcSpans(sample, md5Mode = false)
      .sameElements(cdcSpans(sample, md5Mode = true)))
    // expected chunk size holds for the production family too (mod 32)
    val lens = docs.flatMap(t => cdcSpans(t, md5Mode = false).map(_._2))
    val mean = lens.sum.toDouble / lens.length
    assert(mean > 16 && mean < 64, s"mean chunk $mean out of band")
    // and shift robustness (the CDC property) under the fast family
    val shifted = "X" + sample
    val interior = cdcSpans(sample, md5Mode = false).drop(1)
      .map { case (p, l) => sample.substring(p - 1, p - 1 + l) }
    val shiftSet = cdcSpans(shifted, md5Mode = false)
      .map { case (p, l) => shifted.substring(p - 1, p - 1 + l) }.toSet
    assert(interior.forall(shiftSet.contains))
  }

  test("d20 tuning table: nesting monotonicity, d03 consistency, exact S-curve") {
    val rows = ops.Dedup.d20.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((8L, 1L), (4L, 2L), (2L, 4L), (1L, 8L)))
    // finer banding is a refinement: (1,8) pairs ⊆ (2,4) ⊆ (4,2) ⊆ (8,1),
    // so candidates, workload, and recall are monotone down the table
    Seq(3, 4, 5).foreach { k =>
      val col = rows.map(t => t.productElement(k - 1).asInstanceOf[Long])
      assert(col.zip(col.tail).forall { case (a, b) => a >= b },
        s"column $k not monotone: ${col.toSeq}")
    }
    // the (4,2) row IS d03's configuration: candidate counts must agree
    val d03n = ops.Dedup.d03.run(spark, sf).count()
    assert(rows.find(t => t._1 == 4L && t._2 == 2L).get._4 == d03n)
    // S-curve literals equal a direct evaluation
    rows.foreach { case (b, r, _, _, _, p50, p80) =>
      def p(s: Double) = math.round(
        (1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)) * 1e6)
      assert(p50 == p(0.5) && p80 == p(0.8), s"curve at ($b,$r)")
    }
    // the trade-off genuinely trades: the strictest config loses recall
    // that the loosest keeps, at a fraction of the workload
    assert(rows.head._5 >= rows.last._5)
    assert(rows.head._3 > 5 * rows.last._3,
      "workload spread too small to demonstrate the trade-off")
  }

  test("d21 incremental dedup: complete and sound vs the brute-force cross-split truth") {
    val got = ops.Dedup.d21.run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getLong(3))).toMap
    // ground truth: d02's exact-Jaccard ≥ 0.8 pairs, restricted to
    // pairs crossing the old/new split
    val truth = ops.Dedup.d02.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (i, j) => (i % 4 == 0) != (j % 4 == 0) }
      .map { case (i, j) => if (i % 4 == 0) (i, j) else (j, i) }
    // every new doc is verdicted exactly once
    val newIds = model.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == newIds)
    // COMPLETE: every new doc with a true cross-split partner is 'dup'
    // (d03's band curve admits every Jaccard-0.8 pair — the d03 spec's
    // containment law — and the exact confirm cannot reject a true one)
    val withPartner = truth.map(_._1).toSet
    for (id <- withPartner)
      assert(got(id)._1 == "dup", s"true dup $id verdicted novel")
    // SOUND: every 'dup' verdict carries a partner at ≥ the threshold,
    // and that partner really is an old-side doc
    for ((id, ("dup", of, ppm)) <- got) {
      assert(of % 4 != 0 && of >= 0, s"$id dup_of $of not old-side")
      assert(ppm >= 800000L, s"$id confirmed below threshold: $ppm")
    }
    for ((id, ("novel", of, ppm)) <- got)
      assert(of == -1L && ppm < 800000L, s"novel $id carries $of/$ppm")
    assert(withPartner.nonEmpty, "no cross-split dups — vacuous corpus")
  }
}
