package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

import graft.functions.TextFunctions
import graft.sources.Ingest

class IngestSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-ingest")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  private val articleSchema = new StructType()
    .add("headline", StringType)
    .add("authors", ArrayType(StringType))
    .add("short_description", StringType)

  test("tolerant JSONL scan skips corrupt lines, keeps good ones") {
    val path = write("a.jsonl",
      """{"headline": "h1", "authors": ["a", "b"], "short_description": "d1"}
        |this line is not json at all
        |{"headline": "h2", "authors": [], "short_description": null}
        |""".stripMargin)
    val df = Ingest.tolerantJson(spark, path, Some(articleSchema))
    assert(df.count() == 2)
  }

  test("whole-file JSON array scan via multiLine") {
    val path = write("a.json",
      """[{"headline": "h1", "authors": ["x"], "short_description": "d"},
        | {"headline": "h2", "authors": null, "short_description": "e"}]""".stripMargin)
    val df = Ingest.tolerantJson(spark, path, Some(articleSchema),
      multiLine = true)
    assert(df.count() == 2)
  }

  test("format projection applies reference defaults") {
    import spark.implicits._
    val raw = Seq(
      ("h1", Seq("a", "b"), "d1"),
      (null, null, null): (String, Seq[String], String))
      .toDF("headline", "authors", "short_description")
    val out = Ingest.formatArticles(raw).collect().map(_.getString(0)).toSet
    assert(out.contains("Headline: h1, Authors: a, b, Description: d1"))
    assert(out.contains("Headline: , Authors: Unknown, Description: "))
  }

  test("CSV scan reads header-typed columns") {
    val path = write("t.csv", "id,name\n1,alpha\n2,beta\n")
    val df = Ingest.csv(spark, path)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }

  test("CSV scan honours RFC 4180 doubled-quote escaping") {
    val path = write("q.csv",
      "id,name\n1,\"plain\"\n2,\"with, comma\"\n3,\"the \"\"quoted\"\" one\"\n")
    val names = Ingest.csv(spark, path).orderBy("id")
      .collect().map(_.getString(1)).toSeq
    assert(names == Seq("plain", "with, comma", "the \"quoted\" one"))
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    import spark.implicits._
    // an old shard (no `lang`) and a new shard (adds `lang`) — the
    // additive-column evolution a long-lived 100 TB table accumulates
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.parquet(s"$dir/part=old")
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/part=new")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("doc_id", "text", "lang", "part"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).getAs[String]("lang") == null) // old shard backfills null
    assert(rows(1).getAs[String]("lang") == "en")
  }

  test("extractive summary: budget law and sentence selection") {
    // 10 sentences x 10 words = 100 words, budget = 33. The two "alpha"
    // sentences dominate the frequency score (20/100 per word) and must
    // be selected; greedy fill then takes the earliest low-score
    // sentences until >= 33 words → exactly 4 sentences, original order.
    val high = Seq.fill(10)("alpha").mkString(" ") + "."
    val lows = (0 until 8).map(i => (0 until 10).map(j => s"w${i}_$j").mkString(" ") + ".")
    val text = (Seq(high, lows.head, high) ++ lows.tail).mkString(" ")
    val s = TextFunctions.extractiveSummary(text)
    val sentences = TextFunctions.sentencesOf(s)
    assert(sentences.length == 4)
    assert(sentences.count(_.startsWith("alpha")) == 2)
    // selected sentences keep original document order
    assert(sentences(0).startsWith("alpha") && sentences(2).startsWith("alpha"))
    // single-"sentence" text degrades to the word-budget head
    val flat = (1 to 90).map(i => s"w$i").mkString(" ")
    assert(TextFunctions.extractiveSummary(flat).split(" ").length == 30)
    // empty/null-safe
    assert(TextFunctions.extractiveSummary("") == "")
    assert(TextFunctions.extractiveSummary(null) == "")
  }

  test("n10 relational selection assembles to extractiveSummary exactly") {
    // ties n09's per-row Scala function to n10's fully-oracled
    // relational scoring: for every fixture doc with sentence
    // structure, joining n10's selected sentence indices back to the
    // sentence list must reproduce extractiveSummary verbatim; the
    // no-structure docs degrade to the head path (single selected row)
    val scores = ops.NewsPipeline.summaryScores(spark).collect()
      .groupBy(_.getLong(0))
    val docs = spark.read.schema("doc_id LONG, text STRING")
      .json(ops.NewsPipeline.summaryFixturePath)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.nonEmpty && scores.keySet == docs.keySet)
    var multi = 0
    for ((id, text) <- docs) {
      val sentences = TextFunctions.sentencesOf(text.take(5000))
      val expected = TextFunctions.extractiveSummary(text)
      if (sentences.length > 1) {
        multi += 1
        val picked = scores(id).filter(_.getBoolean(4))
          .map(_.getLong(1).toInt).sorted
        val assembled = picked.map(sentences(_)).mkString(" ")
        assert(assembled == expected, s"doc $id: selection mismatch")
      } else {
        assert(scores(id).length == 1 && scores(id).head.getBoolean(4),
          s"doc $id: head-path doc must have its one sentence selected")
      }
    }
    assert(multi >= 8, s"fixture must exercise the sentence tier, got $multi")
  }

  test("in06: corrupt file skipped under the option, loud failure by default") {
    val tolerant = sources.Ingest.in06.run(spark, sf).collect()
    assert(tolerant.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // the DEFAULT read must fail the job on the bad footer, not skip it
    val schema = tolerant.head.schema
    val strict = spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.fields))
      .parquet(sources.Ingest.corruptFixtureDir)
    val e = intercept[org.apache.spark.SparkException] {
      strict.collect()
    }
    // pin the FAILURE MODE, not just the exception type (r05 ADVICE: a
    // null-check would pass for any SparkException): the cause chain must
    // name the corrupt file or the parquet footer/magic-bytes check
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      .toLowerCase(java.util.Locale.ROOT)
    assert(msgs.contains("bad.parquet") || msgs.contains("footer") ||
      msgs.contains("magic"),
      s"expected a corrupt-footer failure naming the bad file, got: ${msgs.take(600)}")
  }

  test("in11: cut and watermark predicates push down; strict split partitions the source") {
    import org.apache.spark.sql.functions._
    val ev = model.Tables.events(spark, sf)
    // the snapshot cut reaches the parquet scan as a pushed filter
    val cut = ev.filter(col("ts") < ops.EventStreams.tsLiteral(ev, Ingest.In11Cut))
    val cplan = cut.queryExecution.executedPlan.toString
    assert(cplan.contains("LessThan(ts"),
      s"cut predicate not pushed:\n${cplan.take(600)}")
    assert(cplan.contains("PushedFilters"), cplan.take(600))
    // the delta predicate (stored-dtype watermark literal) pushes too
    val wm = cut.agg(max(col("ts"))).head.get(0)
    val delta = ev.filter(col("ts") > lit(wm))
    val dplan = delta.queryExecution.executedPlan.toString
    assert(dplan.contains("GreaterThan(ts"),
      s"delta predicate not pushed:\n${dplan.take(600)}")
    // strict watermark arithmetic: snapshot and delta partition the
    // source exactly — nothing lost at the boundary, nothing doubled
    val nSnap = cut.count()
    val nDelta = delta.count()
    assert(nSnap > 0 && nDelta > 0, s"degenerate split: $nSnap/$nDelta")
    assert(nSnap + nDelta == ev.count(), "snapshot + delta != source")
  }

  test("in15 WAP: publish is content-complete; both legs' requires hold") {
    // the op itself `require`s the full protocol (clean publishes with
    // a manifest; poisoned batch refused, quarantined, published bytes
    // untouched) - running it exercises every invariant
    val out = sources.Ingest.in15.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val src = model.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // published content equals the source, per flag
    assert(out.map(o => o._1 -> o._2).toMap == src)
    assert(out.map(_._1).toSet == Set("A", "N", "R"))
  }

  test("in16: manifest pruning is sound — pruned files hold no matching row") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampNTZType
    // rebuild the same layout the op writes, prune by the same manifest
    // logic, then prove the COMPLEMENT: files the manifest dropped
    // contain zero rows for the predicate (soundness; the op's oracle
    // proves completeness of the files it kept)
    val src = model.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-in16-spec").toString
    try {
      src.repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(dir)
      val manifest = sources.Ingest.manifestOf(spark, dir, "l_shipdate")
      assert(manifest.length > 1, "layout produced a single file")
      val (live, pruned) = manifest.partition { case (_, mn, mx) =>
        mx >= "1996-03-01 00:00:00" && mn < "1996-04-01 00:00:00"
      }
      assert(live.nonEmpty && pruned.nonEmpty,
        s"degenerate pruning: ${live.length} live / ${pruned.length} pruned")
      val (lo, hi) = (
        org.apache.spark.sql.functions.lit("1996-03-01 00:00:00")
          .cast(TimestampNTZType),
        org.apache.spark.sql.functions.lit("1996-04-01 00:00:00")
          .cast(TimestampNTZType))
      val leaked = spark.read.parquet(pruned.map(_._1): _*)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi).count()
      assert(leaked == 0, s"pruned files hid $leaked matching rows")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("in19: sizing advisor arithmetic recomputes from raw tables") {
    import org.apache.spark.sql.functions.{col, length, sum}
    val rows = sources.Ingest.in19.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(rows.keySet == Set("documents", "events", "lineitem"))
    // recompute documents' estimate independently
    val docs = model.Tables.documents(spark, sf)
    val n = docs.count()
    val Array(lens) = docs.agg(sum(length(col("text"))),
      sum(length(col("lang"))), sum(length(col("source")))).collect()
    val est = 16 + (4 + lens.getLong(0) / n) + (4 + lens.getLong(1) / n) +
      (4 + lens.getLong(2) / n)
    val (gn, gb, gmb, gf, grpf) = rows("documents")
    assert(gn == n && gb == est, s"documents: $gb vs $est")
    assert(gmb == n * est / 1048576L)
    val files = math.max(1L, (n * est + 134217727L) / 134217728L)
    assert(gf == files && grpf == n / files)
    // structural laws for every table: width ≥ fixed floor, files ≥ 1,
    // and the recommendation never splits below the target unless a
    // single file would exceed it
    for ((t, (nn, b, _, f, rpf)) <- rows) {
      assert(b > 0 && f >= 1 && rpf >= 1, s"$t degenerate")
      assert(f == 1 || nn * b > 134217728L, s"$t split without need")
    }
  }

  test("in18: bloom skipping returns exactly the source's point-lookup rows") {
    import org.apache.spark.sql.functions.{col, max, min}
    // the op's requires pin the pruning (every probe touches strictly
    // fewer files than the layout holds); here the content contract is
    // re-proven against the raw table: present probes return the full
    // row set for their key (no false negatives — a bloom may only
    // over-read, never under-read), absent probes return the (0, 0) row
    val got = sources.Ingest.in18.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set("k1_min", "k2_mid", "k3_max", "k4_absent",
      "k5_absent"))
    val li = model.Tables.lineitem(spark, sf)
    val Array(kb) = li.agg(min("l_orderkey"), max("l_orderkey")).collect()
    val (kmin, kmax) = (kb.getLong(0), kb.getLong(1))
    val kmid = li.filter(col("l_orderkey") <= (kmin + kmax) / 2)
      .agg(max("l_orderkey")).collect()(0).getLong(0)
    def cnt(k: Long) = li.filter(col("l_orderkey") === k).count()
    assert(got("k1_min")._1 == cnt(kmin) && cnt(kmin) > 0)
    assert(got("k2_mid")._1 == cnt(kmid) && cnt(kmid) > 0)
    assert(got("k3_max")._1 == cnt(kmax) && cnt(kmax) > 0)
    assert(got("k4_absent") == (0L, 0L))
    assert(got("k5_absent") == (0L, 0L))
  }

  test("in18: consult + read job count is O(1) in the file count") {
    // the r12 verdict's estate-scale hazard: the old form ran one job
    // per FILE for the bloom consult and one per probe for the read,
    // so doubling the layout width added ~nFiles jobs. The manifest-
    // table form is a fixed pipeline (layout write, sizing pass,
    // manifest write, key scans, probe-test micro-job, ONE consult
    // join, ONE data read) — under AQE each action decomposes into a
    // few stage-materialization sub-jobs, but the ACTION list is
    // constant, so the total must not grow when the file count doubles
    def jobsAt(files: Int): Int = {
      @volatile var jobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        sources.Ingest.bloomFileSkipping(spark, sf, files).collect()
        // listener delivery is async; events post on job submission
        // so a short settle covers the final collect
        Thread.sleep(500)
        jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val j8 = jobsAt(8)
    val j16 = jobsAt(16)
    // slack 2 absorbs AQE's run-to-run stage decomposition wobble;
    // the old per-file consult would add +8 here
    assert(j16 <= j8 + 2,
      s"in18 jobs grew with file count: $j8 @8 files -> $j16 @16 files")
  }

  test("in20 ledger: old versions are byte-stable and AS-OF-exact after new commits") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-ledger").toString
    val t = new sources.VersionedTable(spark, base)
    def md5Of(p: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p))).map("%02x".format(_)).mkString
    val batch1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val batch2 = Seq((4L, "d"), (5L, "e")).toDF("id", "v")
    val batch3 = Seq((6L, "f")).toDF("id", "v")
    assert(t.head == 0)
    assert(t.commit(batch1) == 1)
    // CONTENT hashes of v1's bytes, captured before any later commit
    // (the op's in-op require pins (length, mtime); this is stronger)
    val v1Hashes = t.files(1).map(p => p -> md5Of(p)).toMap
    assert(t.commit(batch2) == 2 && t.commit(batch3) == 3 && t.head == 3)
    // byte-stability: every v1 file is hash-identical after v2/v3
    v1Hashes.foreach { case (p, h) =>
      assert(md5Of(p) == h, s"commit rewrote version-1 bytes: $p")
    }
    // AS OF v is content-exact at every version AFTER head moved on
    def ids(v: Int) = t.readAsOf(v).select("id").as[Long].collect().sorted
    assert(ids(1).toSeq == Seq(1L, 2L, 3L))
    assert(ids(2).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids(3).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // p13's snapshot-diff discipline between two versions, data-plane:
    // v3 minus v2 is exactly batch 3; v2 lost nothing
    val delta = t.readAsOf(3).join(t.readAsOf(2), Seq("id"), "left_anti")
    assert(delta.select("id").as[Long].collect().toSeq == Seq(6L))
    assert(t.readAsOf(2).join(t.readAsOf(3), Seq("id"), "left_anti")
      .isEmpty, "append-only history lost rows between versions")
    // a version past head (or 0) is refused loudly, never empty-read
    intercept[IllegalArgumentException](t.readAsOf(4))
    intercept[IllegalArgumentException](t.readAsOf(0))
    // a refused commit leaves the ledger untouched (WAP contract)
    intercept[IllegalArgumentException](
      t.commit(Seq((7L, "g")).toDF("id", "v"), _ => false))
    assert(t.head == 3 && ids(3).length == 6)
  }

  test("in21 lifecycle: rewrite commits preserve content; vacuum deletes exactly the orphans") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-vacuum").toString
    val t = new sources.VersionedTable(spark, base)
    def ids(v: Int) = t.readAsOf(v).select("id").as[Long].collect().sorted
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(3))
    t.commit(Seq((3L, "c")).toDF("id", "v").repartition(2))
    // v3 = rewrite of v2's content into fewer files
    t.commit(t.readAsOf(2).coalesce(1), replace = true)
    assert(t.head == 3 && t.files(3).length == 1)
    assert(ids(3).toSeq == Seq(1L, 2L, 3L) && ids(2).toSeq == ids(3).toSeq)
    // v4 appends ON TOP of the rewrite — lineage continues normally
    t.commit(Seq((4L, "d")).toDF("id", "v"))
    assert(ids(4).toSeq == Seq(1L, 2L, 3L, 4L))
    // vacuum(retain >= 3): v1/v2 expire; their files are orphans
    // EXCEPT any shared with retained versions (none here, the rewrite
    // replaced them all); v3's file survives because v4 references it
    val v12Files = (t.files(1) ++ t.files(2)).distinct.toSet
    val (expired, deleted) = t.vacuum(retainFrom = 3)
    assert(expired == Seq(1, 2) && deleted.toSet == v12Files)
    assert(deleted.forall(p => !new java.io.File(p).exists()))
    assert(t.files(3).forall(p => new java.io.File(p).exists()))
    // retained versions read exactly as before the vacuum
    assert(ids(3).toSeq == Seq(1L, 2L, 3L))
    assert(ids(4).toSeq == Seq(1L, 2L, 3L, 4L))
    // expired versions refuse loudly; head is unaffected by their absence
    intercept[IllegalArgumentException](t.readAsOf(1))
    intercept[IllegalArgumentException](t.readAsOf(2))
    assert(t.head == 4)
    // a second vacuum at the same horizon is a no-op
    assert(t.vacuum(retainFrom = 3) == ((Seq.empty, Seq.empty)))
    // vacuum at head retains head; shared-file lineage (v3's file is in
    // v4's list) must survive the expiry of v3
    val v3File = t.files(3).head
    val (e2, d2) = t.vacuum(retainFrom = 4)
    assert(e2 == Seq(3) && d2.isEmpty,
      "vacuum deleted a file still referenced by a retained version")
    assert(new java.io.File(v3File).exists() &&
      ids(4).toSeq == Seq(1L, 2L, 3L, 4L))
    // commits continue after vacuums
    t.commit(Seq((5L, "e")).toDF("id", "v"))
    assert(t.head == 5 && ids(5).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("in17: z-order re-layout is content-invariant per predicate band") {
    // the op's in-op requires pin the locality inequalities (suppkey
    // band: z strictly beats linear; partkey band: linear never loses
    // its own dimension) — running it at sf0.001 exercises them on the
    // second corpus size; here we additionally prove the re-layouts
    // returned IDENTICAL row content per band (count + order-free
    // digest), i.e. physical clustering never touched the data plane
    val rows = sources.Ingest.in17.run(spark, sf).collect()
    assert(rows.length == 4)
    val byPred = rows.groupBy(_.getString(1))
    assert(byPred.keySet == Set("partkey_band", "suppkey_band"))
    for ((pred, rs) <- byPred) {
      assert(rs.map(_.getString(0)).sorted.toSeq ==
        Seq("linear_partkey", "zorder"), s"$pred layouts")
      assert(rs.map(_.getLong(2)).distinct.length == 1,
        s"$pred row counts diverge across layouts")
      assert(rs.map(_.getLong(3)).distinct.length == 1,
        s"$pred checksums diverge across layouts")
      assert(rs.head.getLong(2) > 0, s"$pred band is empty — vacuous")
    }
  }

  test("in22: generations reconcile losslessly where mergeSchema refuses") {
    // the op's own require pins the mergeSchema refusal (int-vs-double
    // widening); the oracle pins content digests cross-engine; here we
    // pin the report's internal conservation laws
    val rows = sources.Ingest.in22.run(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("gen1", "gen2", "unified"))
    val Seq(g1, g2, u) = rows.toSeq
    // unified = exactly both generations, no row invented or dropped
    assert(u.getLong(1) == g1.getLong(1) + g2.getLong(1),
      "unified row count is not the sum of generations")
    assert(g1.getLong(1) > 0 && g2.getLong(1) > 0,
      "a generation is empty — the drift scenario is vacuous")
    // the lifted contract is the new writer's width; the old writer's
    // files really are narrower
    assert(g1.getInt(2) == 3 && g2.getInt(2) == 4 && u.getInt(2) == 4)
    // digests are per-slice distinct (gen1 'NA'-flag rows cannot hash
    // like gen2 rows) — guards against a digest that ignores the flag
    assert(Set(g1.getLong(3), g2.getLong(3), u.getLong(3)).size == 3,
      "slice digests collide — checksum insensitive to the lifted column?")
  }

  test("carry commits: scoped rewrite keeps untouched files shared and readable") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-carry").toString
    val t = new sources.VersionedTable(spark, base)
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(3, org.apache.spark.sql.functions.col("id")))
    // carry contracts: only on replace commits, only previous files
    intercept[IllegalArgumentException](
      t.commit(Seq((9L, "x")).toDF("id", "v"), carry = t.files(1)))
    intercept[IllegalArgumentException](
      t.commit(Seq((9L, "x")).toDF("id", "v"), replace = true,
        carry = Seq("/nonexistent/file.parquet")))
    assert(t.head == 1, "a refused commit must not advance the ledger")
    // scoped rewrite: drop id=2 by rewriting ONLY its file; carry the rest
    val hit = t.readAsOf(1)
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .filter($"id" === 2L).select("f").as[String].collect()
      .map(p => new java.net.URI(p).getPath).toSeq
    val carried = t.files(1).filterNot(hit.contains)
    assert(hit.length == 1 && carried.length >= 1)
    t.commit(spark.read.parquet(hit: _*).filter($"id" =!= 2L),
      replace = true, carry = carried)
    assert(t.readAsOf(2).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // the carried files appear VERBATIM in the new snapshot's listing
    assert(carried.forall(t.files(2).contains),
      "carried files missing from the rewrite snapshot")
    // vacuum deletes only the rewritten file; carried bytes survive
    val (expired, deleted) = t.vacuum(retainFrom = 2)
    assert(expired == Seq(1) && deleted.toSet == hit.toSet)
    assert(carried.forall(p => new java.io.File(p).exists()))
    assert(t.readAsOf(2).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("in24: generations are disjoint and conserve the window; both specs prune") {
    // the op's in-op requires pin the physical pruning claims (they ran
    // or this call would throw); here we pin the logical conservation
    val rows = sources.Ingest.in24.run(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("gen1_yearly", "gen2_monthly", "unified"))
    val Seq(g1, g2, u) = rows.toSeq
    // the spec boundary leaks no rows in either direction
    assert(u.getLong(1) == g1.getLong(1) + g2.getLong(1),
      "unified window is not the disjoint union of the generations")
    assert(g1.getLong(1) > 0 && g2.getLong(1) > 0,
      "a generation's window slice is empty — the evolution is vacuous")
    // the order-free digest is additive mod 2^32 over disjoint slices
    assert(u.getLong(2) ==
      (g1.getLong(2) + g2.getLong(2)) % 4294967296L,
      "unified checksum is not the modular sum of the slices")
  }

  test("in25: sketch manifest equals a brute-force recompute; merge laws hold") {
    val rows = sources.Ingest.in25.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length == 18 &&
      rows.count(_._1 == "table") == 2)
    // brute-force: recompute every (scope, col) k-min set from the rows
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey").collect()
      .map(r => (r.getLong(0) % 8, r.getLong(1), r.getLong(2)))
    def kmvHash(c: String, v: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$c:$v".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    def kmin(hs: Iterable[Long]): Seq[Long] =
      hs.toSeq.distinct.sorted.take(64)
    val byCol: Map[String, Array[(Long, Long)]] = Map(
      "l_partkey" -> li.map(t => (t._1, kmvHash("l_partkey", t._2))),
      "l_suppkey" -> li.map(t => (t._1, kmvHash("l_suppkey", t._3))))
    rows.foreach { case (scope, colname, nRet, kth, est) =>
      val hs = byCol(colname)
      val set =
        if (scope == "table") kmin(hs.map(_._2))
        else kmin(hs.filter(_._1 == scope.stripPrefix("bucket_").toLong)
          .map(_._2))
      assert(nRet == set.length, s"$scope/$colname retained")
      assert(kth == set.max, s"$scope/$colname kth hash")
      val want = if (set.length < 64) set.length.toLong
        else ((BigInt(63) << 60) / BigInt(set.max)).toLong
      assert(est == want, s"$scope/$colname estimate")
    }
    // merge law: the global k-min's kth never exceeds a full file's kth
    // (the k smallest overall are each among their file's k smallest),
    // so the merged estimate dominates each saturated file's estimate
    for (c <- Seq("l_partkey", "l_suppkey")) {
      val t = rows.find(r => r._1 == "table" && r._2 == c).get
      rows.filter(r => r._1 != "table" && r._2 == c && r._3 == 64L)
        .foreach { f =>
          assert(t._4 <= f._4, s"$c: table kth above file ${f._1} kth")
          if (t._3 == 64L) assert(t._5 >= f._5,
            s"$c: merged NDV below file ${f._1}")
        }
    }
    // the estimate answers the CBO question: within the KMV error band
    // of the exact table NDV when saturated (k=64 → expect ~1/8 rel
    // error; assert the loose 4/sqrt(k) = 50% band, KmvSpec discipline)
    for (c <- Seq("l_partkey", "l_suppkey")) {
      val t = rows.find(r => r._1 == "table" && r._2 == c).get
      val exact = (if (c == "l_partkey") li.map(_._2) else li.map(_._3))
        .distinct.length.toLong
      if (t._3 == 64L)
        assert(math.abs(t._5 - exact).toDouble / exact <= 0.5,
          s"$c: merged NDV ${t._5} vs exact $exact outside the band")
      else assert(t._5 == exact, s"$c: unsaturated KMV must be exact")
    }
  }

  test("in23: accept is logically invisible-equal to purge; deletion is non-vacuous") {
    val rows = sources.Ingest.in23.run(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_base", "2_merge_on_read", "3_after_purge"))
    val Seq(b, mor, purged) = rows.toSeq
    // the revocation actually removed rows (non-vacuous scenario)
    assert(b.getLong(1) > mor.getLong(1),
      "delete set empty — the erasure scenario is vacuous")
    // merge-on-read (logical) and purge (physical) agree row-for-row:
    // same count, same order-free content digest
    assert(mor.getLong(1) == purged.getLong(1) &&
      mor.getLong(2) == purged.getLong(2),
      "merge-on-read and purged digests diverge")
    assert(b.getLong(2) != mor.getLong(2),
      "base and deleted digests collide — checksum insensitive?")
  }

  test("in26: merge commit — inserts grow the snapshot, updates change " +
    "content, time travel back is byte-faithful") {
    val rows = sources.Ingest.in26.run(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("1_base", "2_after_merge", "3_time_travel_base"))
    val Seq(b, m, tt) = rows.toSeq
    // the merge actually inserted (non-vacuous change set) ...
    assert(m.getLong(1) > b.getLong(1),
      "merge inserted nothing — the upsert scenario is vacuous")
    // ... and actually updated (content digest moves beyond the count)
    assert(m.getLong(2) != b.getLong(2),
      "merge digest equals base — updates were lost")
    // snapshot isolation: v1 AS OF after the merge commit is the base,
    // count and content
    assert(tt.getLong(1) == b.getLong(1) && tt.getLong(2) == b.getLong(2),
      "time travel across the merge commit does not return the base")
    // (the physical carry contract — untouched files byte-identical,
    // ledger diff == rewrite scope, count arithmetic — is require'd
    // inside the op itself; this test pins the logical laws)
  }
}
