package graft

import org.apache.spark.sql.functions._

import graft.ops.{CleanCorpus, TextAnalysis}

/** Structural laws for the round-5 corpus operators (t12 chunking,
  * t13 BM25, p04 token-budget mixing) — values are pinned cross-engine
  * by their DuckDB oracles; these specs pin the LAWS the oracles can't
  * state (tiling geometry, budget minimality, retrieval sanity). */
class CorpusOpsSpec extends SparkSpec {

  test("t12 chunks tile every document: stride, truncation, full coverage") {
    val rows = TextAnalysis.t12.run(spark, sf)
      .select("doc_id", "chunk_idx", "start_tok", "end_tok")
      .collect().groupBy(_.getLong(0))
    val nTokens = model.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == nTokens.keySet, "every doc must chunk")
    val stride = TextAnalysis.ChunkSize - TextAnalysis.ChunkOverlap
    rows.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getLong(1) == i, s"doc $id: contiguous chunk indices")
        assert(c.getLong(2) == i * stride, s"doc $id: stride law")
        assert(c.getLong(3) ==
          math.min(i * stride + TextAnalysis.ChunkSize, nTokens(id)),
          s"doc $id: end = min(start+C, n)")
      }
      assert(sorted.last.getLong(3) == nTokens(id),
        s"doc $id: last chunk must reach the document end")
      // every chunk (except possibly the last) is full-size, so any
      // token index < n falls inside at least one chunk
      sorted.init.foreach { c =>
        assert(c.getLong(3) - c.getLong(2) == TextAnalysis.ChunkSize,
          s"doc $id: only the last chunk may truncate")
      }
    }
  }

  test("p04 budget law: prefix-minimal fill per source") {
    val picked = CleanCorpus.p04.run(spark, sf).collect()
      .groupBy(_.getString(1))
    val perSource = model.Tables.documents(spark, sf)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(picked.keySet == perSource.keySet, "every source contributes")
    picked.foreach { case (src, rows) =>
      val budget = rows.head.getLong(3)
      assert(rows.forall(_.getLong(3) == budget))
      val total = rows.map(_.getLong(2)).sum
      // the selection either fills the budget or exhausts the source
      assert(total >= budget || rows.length == perSource(src),
        s"$src: underfilled budget without exhausting the source")
      // prefix-minimality: dropping the LAST pick (highest rank) must
      // fall below the budget — nothing superfluous was selected
      val lastTokens =
        rows.maxBy(_.getLong(4)).getLong(2)
      assert(total - lastTokens < budget,
        s"$src: selection keeps a doc the budget did not need")
    }
  }

  test("p05 composition laws: split membership, budget fill, dense bins") {
    val rows = CleanCorpus.p05.run(spark, sf).collect()
    assert(rows.nonEmpty)
    // every packed doc is in t09's train split (bucket < 80)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val ids = model.Tables.documents(spark, sf)
      .select(col("doc_id"), bucket.as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(ids(r.getLong(0)) < 80, s"doc ${r.getLong(0)} not in train split")
    }
    // per source: the selection fills the budget or exhausts the
    // source's train docs (same law as p04, here post-split)
    val bySource = rows.groupBy(_.getString(1))
    val trainPerSource = ids.filter(_._2 < 80).keySet
    bySource.foreach { case (src, rs) =>
      val total = rs.map(_.getLong(4)).sum
      val budget = (src.drop(3).toInt % 3 + 1) * CleanCorpus.MixBudgetUnit
      val srcTrainCount = model.Tables.documents(spark, sf)
        .filter(col("source") === src)
        .collect().count(r => trainPerSource.contains(r.getLong(0)))
      assert(total >= budget || rs.length == srcTrainCount,
        s"$src: underfilled without exhausting the split")
    }
    // bins are dense per shard: 0..max with no gaps
    rows.groupBy(_.getLong(2)).foreach { case (shard, rs) =>
      val bins = rs.map(_.getLong(3)).distinct.sorted
      assert(bins.head == 0 && bins.toSeq == (0L to bins.last).toSeq,
        s"shard $shard: bins not dense: ${bins.take(10)}")
    }
  }

  test("t13 guard band: no contribution near a micro rounding boundary") {
    // ln carries no cross-libm bit-exactness guarantee (<= 1 ulp drift,
    // ~2e-9 micros at these magnitudes); the quantised oracle is safe
    // iff no contribution sits near a .5 micro boundary — proven here
    // with a 10^5x margin over the worst drift
    val raw = ops.TextAnalysis.bm25Raw(spark, sf).collect()
      .map(_.getDouble(1))
    assert(raw.nonEmpty)
    val minDist = raw.map { v =>
      val x = v * 1000000.0
      math.abs(x - math.floor(x) - 0.5)
    }.min
    info(f"min distance to a rounding boundary: $minDist%.6f micros")
    assert(minDist > 1e-4,
      f"a 1-ulp ln divergence could flip quantisation: $minDist%.2e")
  }

  test("t13 BM25 top-k: distinct docs, positive scores, terms present") {
    val rows = TextAnalysis.t13.run(spark, sf).collect()
    assert(rows.length == TextAnalysis.Bm25TopK)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.map(_.getLong(2)).toSeq == (1L to TextAnalysis.Bm25TopK))
    // scores are positive (BM25+ idf form) and non-increasing in rank
    val scores = rows.sortBy(_.getLong(2)).map(_.getLong(1))
    assert(scores.forall(_ > 0))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b })
    // every retrieved doc actually contains a query term
    val ids = rows.map(_.getLong(0)).toSet
    val texts = model.Tables.documents(spark, sf)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect()
    texts.foreach { r =>
      val toks = r.getString(1).split(" ").toSet
      assert(TextAnalysis.Bm25Terms.exists(toks.contains),
        s"doc ${r.getLong(0)} retrieved without any query term")
    }
  }

  test("t14 bloom decontamination equals t07 exactly; FP rate quantified") {
    // exact equality is the operator's contract (the confirm join removes
    // every bloom false positive); the prefilter's FP rate and shed
    // factor are the quantified properties the shared oracle can't see
    def rows(q: Q) = q.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(TextAnalysis.t14) == rows(TextAnalysis.t07))

    val sh = TextAnalysis.shingles8(spark, sf)
    val evalSh = sh.filter(col("doc_id") % 10 === 0)
      .select("s").distinct().localCheckpoint()
    val corpus = sh.filter(col("doc_id") % 10 =!= 0).localCheckpoint()
    val bits = TextAnalysis.bloomFor(evalSh)
    val total = corpus.count()
    val passed = corpus.filter(TextAnalysis.bloomHit(bits, col("s"))).count()
    val hits = corpus.join(evalSh, Seq("s"), "left_semi").count()
    assert(passed >= hits, "bloom must never drop a true match")
    val fp = (passed - hits).toDouble / math.max(1L, total - hits)
    info(f"shingles=$total passed=$passed true=$hits " +
      f"fp=$fp%.5f shed=${total.toDouble / math.max(1L, passed)}%.0fx " +
      f"(m=${bits.length * 64} bits)")
    assert(fp <= 0.05, f"bloom FP rate $fp%.4f above the 16-bits/elem bound")
  }

  test("p06 guard band: no bucket log-ratio near a micro rounding boundary") {
    // same discipline as t13: the oracle is safe iff no pre-rounding
    // value sits within 1-ulp-of-ln reach of a .5 micro boundary
    val raw = CleanCorpus.dsirBucketRatios(
      model.Tables.documents(spark, sf).select("doc_id", "text"))
      .collect().map(_.getDouble(1))
    assert(raw.nonEmpty)
    val minDist = raw.map { x =>
      math.abs(x - math.floor(x) - 0.5)
    }.min
    info(f"buckets=${raw.length} min boundary distance: $minDist%.6f micros")
    assert(minDist > 1e-4,
      f"a 1-ulp ln divergence could flip quantisation: $minDist%.2e")
  }

  test("p06 selection law: target-vocabulary docs outrank disjoint ones") {
    import spark.implicits._
    // target slice (ids % 10 == 0) speaks 'alpha..delta'; candidate 1
    // shares that vocabulary, candidate 2 is disjoint — with equal
    // lengths, 1 must outscore 2 (its buckets carry target mass)
    val docs = Seq(
      (10L, "alpha beta gamma delta alpha beta"),
      (20L, "alpha gamma delta beta delta gamma"),
      (1L, "alpha beta gamma delta beta alpha"),
      (2L, "zulu yankee xray whiskey victor uniform")
    ).toDF("doc_id", "text")
    val scores = CleanCorpus.importanceScores(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores.keySet == Set(1L, 2L), "only candidates are scored")
    assert(scores(1L) > scores(2L),
      s"matching-vocab doc must outrank: $scores")
  }

  test("t15 gopher rules: verdict is the AND of its gates, gates match ratios") {
    val rows = TextAnalysis.t15.run(spark, sf).collect()
    assert(rows.nonEmpty)
    var kept = 0
    rows.foreach { r =>
      val (nWords, meanLen, alphaFrac, nStop) =
        (r.getLong(1), r.getDouble(2), r.getDouble(4), r.getLong(5))
      val gates = Seq(r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9), r.getBoolean(10))
      assert(r.getBoolean(11) == gates.forall(identity),
        s"doc ${r.getLong(0)}: keep != AND(gates)")
      assert(gates(0) == (nWords >= TextAnalysis.GopherMinWords &&
        nWords <= TextAnalysis.GopherMaxWords))
      assert(gates(1) == (meanLen >= 3.0 && meanLen <= 10.0),
        s"doc ${r.getLong(0)}: meanlen gate vs ratio $meanLen")
      assert(gates(3) == (alphaFrac >= 0.8) ||
        math.abs(alphaFrac - 0.8) < 1e-12,
        s"doc ${r.getLong(0)}: alpha gate vs ratio $alphaFrac")
      assert(gates(4) == (nStop >= 2))
      if (r.getBoolean(11)) kept += 1
    }
    info(s"kept $kept/${rows.length}")
    assert(kept > 0 && kept < rows.length,
      "corpus must split non-trivially on the gates")
  }

  test("t16 guard band: no unigram cost near a micro rounding boundary") {
    val raw = ops.TextAnalysis.unigramCostRaw(spark, sf).collect()
      .map(_.getDouble(1))
    assert(raw.nonEmpty)
    val minDist = raw.map { v =>
      val x = v * 1000000.0
      math.abs(x - math.floor(x) - 0.5)
    }.min
    info(f"min distance to a rounding boundary: $minDist%.6f micros")
    assert(minDist > 1e-4,
      f"a 1-ulp ln divergence could flip quantisation: $minDist%.2e")
  }

  test("t16 buckets: ordered thirds that partition the corpus") {
    val rows = TextAnalysis.t16.run(spark, sf).collect()
    val n = model.Tables.documents(spark, sf).count()
    assert(rows.length == n, "one bucket row per document")
    val byBucket = rows.groupBy(_.getString(3))
      .view.mapValues(_.map(_.getLong(2))).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min,
      "head scores must not exceed middle scores")
    assert(byBucket("middle").max <= byBucket("tail").min,
      "middle scores must not exceed tail scores")
    // discrete-cutoff law: every doc at or below the P33 cutoff is head,
    // so head holds at least ceil(n/3) docs; tail must be non-empty
    assert(byBucket("head").length >= (n + 2) / 3,
      s"head underfilled: ${byBucket("head").length}")
    assert(byBucket("tail").nonEmpty)
  }

  test("p07: curriculum strata are dense, partition the corpus, phases track tiers") {
    val rows = ops.CleanCorpus.p07.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every doc appears exactly once
    val total = model.Tables.documents(spark, sf).count()
    assert(rows.length.toLong == total)
    assert(rows.map(_._1).distinct.length == rows.length)
    // each (phase, shard) stratum carries a dense 1..n rank sequence
    rows.groupBy(r => (r._2, r._3)).foreach { case ((p, sh), g) =>
      assert(p >= 1 && p <= 3 && sh >= 0 &&
        sh < ops.CleanCorpus.CurriculumShards)
      assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq,
        s"stratum ($p, $sh) ranks not dense")
    }
    // phases reproduce t16's tiers exactly
    val tiers = ops.TextAnalysis.t16.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("bucket")).toMap
    val phaseOf = Map("head" -> 1L, "middle" -> 2L, "tail" -> 3L)
    rows.foreach { case (id, p, _, _) =>
      assert(p == phaseOf(tiers(id)), s"doc $id phase")
    }
  }

  test("p08: a seeded permutation — total, deterministic, and actually shuffled") {
    val out = ops.CleanCorpus.p08.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = model.Tables.documents(spark, sf).count()
    // totality: every doc exactly once, (shard, pos) is a bijection
    assert(out.length.toLong == docs)
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.map(t => (t._2, t._3)).distinct.length == out.length)
    // positions are contiguous 1..|shard| within each shard
    out.groupBy(_._2).foreach { case (shard, ms) =>
      assert(ms.map(_._3).sorted.toSeq == (1L to ms.length.toLong),
        s"shard $shard positions not contiguous")
      assert(shard >= 0 && shard < 16)
    }
    // determinism: a second run is byte-identical (same seed, same permutation)
    val again = ops.CleanCorpus.p08.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
    // shuffledness: reading shards in order must not reproduce doc_id
    // order — adjacent ids land apart (md5 decorrelates); count how many
    // consecutive-id pairs stay adjacent in the shuffled order
    val rank = out.map(t => t._1 -> (t._2 * 1000000L + t._3)).toMap
    val ids = out.map(_._1).sorted
    val adjacentKept = ids.sliding(2).count {
      case Array(a, b) => math.abs(rank(a) - rank(b)) == 1L
      case _ => false
    }
    assert(adjacentKept <= ids.length / 20,
      s"$adjacentKept of ${ids.length} consecutive-id pairs stayed adjacent")
  }

  test("t20: normalisation rules pinned per fixture doc") {
    val out = ops.TextAnalysis.t20.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(0L)._1 == "leading and trailing spaces need trimming")
    assert(out(1L)._1 == "runs of mixed whitespace collapse to one")
    assert(out(2L)._1 == "carriage returns and newlines become spaces")
    // control bytes vanish WITHOUT leaving a space behind
    assert(out(3L)._1 == "controlcharsarestripped entirely")
    // already-clean text is byte-identical and loses no length
    assert(out(4L)._1 == "already clean text stays byte identical")
    assert(out(4L)._2 == out(4L)._3)
    // whitespace-only input normalises to EMPTY, not a single space
    assert(out(5L)._1 == "" && out(5L)._3 == 0L)
    assert(out(6L)._1 == "mixed case of every rule at once")
    assert(out(7L)._1 == "tabs between words normalise")
    // normalisation never grows text
    out.values.foreach { case (_, o, c) => assert(c <= o) }
  }

  test("p09: native heap plan, window-twin parity, exact stratum sizes") {
    val native = ops.CleanCorpus.p09.run(spark, sf)
    // plan shape: two heap nodes (partial + final), zero Window/Sort
    // below the presentation orderBy
    val heaps = native.queryExecution.sparkPlan.collect {
      case t: plans.TopKPerKeyExec => t }
    assert(heaps.size == 2, s"expected heap pair:\n${native.queryExecution}")
    val windows = native.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "window survived the rewrite")
    // value parity against the window twin: the same body with the
    // rewrite excluded, which really plans a Window
    val a = native.collect().map(_.toSeq).toSeq
    val b = withExcludedRules(plans.RewriteTopKPerKey) {
      val twin = ops.CleanCorpus.p09.run(spark, sf)
      assert(twin.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.nonEmpty)
      twin.collect().map(_.toSeq).toSeq
    }
    assert(a == b, "native sample drifts from the window twin")
    // stratum sizes are exactly min(k, |stratum|)
    val sizes = native.groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = model.Tables.documents(spark, sf)
      .groupBy("lang", "source").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sizes.keySet == full.keySet, "a stratum vanished")
    for ((k, n) <- full)
      assert(sizes(k) == math.min(ops.CleanCorpus.SampleK.toLong, n),
        s"stratum $k size ${sizes(k)} != min(50, $n)")
    // the sample is seed-keyed: membership is the bottom-k by hash
    // (spot-check one stratum against a driver-side recompute)
    val (lng, src) = full.keysIterator.next()
    val want = model.Tables.documents(spark, sf)
      .filter(col("lang") === lng && col("source") === src)
      .selectExpr("doc_id",
        s"conv(substr(md5(concat('${ops.CleanCorpus.SampleSeed}:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS h")
      .collect().map(r => (BigInt(r.getString(1)), r.getLong(0)))
      .sorted.take(ops.CleanCorpus.SampleK).map(_._2).sorted.toSeq
    val got = a.filter(r => r(0) == lng && r(1) == src).map(_(2)).toSeq
    assert(got == want, s"stratum ($lng,$src) membership drift")
  }

  test("p10: temperature quotas flatten the head and boost the tail (α = 1/2 law)") {
    // the real corpus has uniform sources at test SFs (flat quotas tell
    // us nothing), so pin the α-law on a skewed synthetic frame: source
    // share under √-temperature must sit strictly between proportional
    // (α = 1) and uniform (α = 0) for BOTH the head and the tail source
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // 10000-doc head, 100-doc tail: proportional gives the tail ~1%,
    // uniform 50%, √-temperature √100/(√10000+√100) = 10/110 ≈ 9.1%
    val docs = spark.range(10000).select($"id".as("doc_id"), lit("head").as("source"))
      .union(spark.range(100).select(($"id" + 100000).as("doc_id"),
        lit("tail").as("source")))
    val q = ops.CleanCorpus.temperatureQuotas(docs, budget = 1000)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(q("head") == 1000L * 100 / 110, s"head quota: $q")
    assert(q("tail") == 1000L * 10 / 110, s"tail quota: $q")
    // tail share strictly above proportional, strictly below uniform
    val tailShare = q("tail").toDouble / (q("head") + q("tail"))
    assert(tailShare > 100.0 / 10100 && tailShare < 0.5, s"tail share $tailShare")
    // quotas self-cap: a stratum can never emit more rows than it has
    val kept = ops.CleanCorpus.p10.run(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = model.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept.foreach { case (src, n) => assert(n <= sizes(src), s"$src overdraws") }
  }

  test("p11: dup_ppm counts corpus-wide fingerprint collisions, exactly") {
    // the live corpus has no exact duplicates, so the report's dup-rate
    // arithmetic would pass vacuously — pin it on planted duplicates:
    // "dup text" appears in srcA twice AND srcB once (all three rows are
    // duplicates corpus-wide), srcB's second row is unique
    import spark.implicits._
    val frame = Seq(
      ("srcA", "en", "dup text"), ("srcA", "en", "dup text"),
      ("srcA", "de", "only here"),
      ("srcB", "en", "dup text"), ("srcB", "fr", "unique row"))
      .toDF("source", "lang", "text")
    val rep = ops.CleanCorpus.corpusReport(frame).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3), r.getLong(6)))
      .toMap
    // srcA: 3 docs, 2 langs, 2/3 dup → 666666 ppm (integer floor)
    assert(rep("srcA") == ((3L, 2L, 666666L)), rep.toString)
    // srcB: 2 docs, 2 langs, 1/2 dup (the cross-source collision) → 500000
    assert(rep("srcB") == ((2L, 2L, 500000L)), rep.toString)
  }

  test("p12: epoch schedule equals a sequential recompute; cap and prefix laws") {
    val rows = ops.CleanCorpus.p12.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val t16rows = ops.TextAnalysis.t16.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[String]("bucket")))
    val cap = ops.CleanCorpus.EpochCap.toLong
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"p12:$id").take(15), 16)
    val b2 = BigInt(t16rows.map(_._2).sum) *
      ops.CleanCorpus.EpochBudgetMultiple
    val want = t16rows.groupBy(_._3).toSeq.flatMap { case (b, ds) =>
      val nB = ds.map(_._2).sum
      val bB = (b2 * ops.CleanCorpus.EpochSharePpm(b) / 1000000).toLong
      val fullE = math.min(cap, bB / nB)
      val rem = if (bB / nB >= cap) 0L else bB - (bB / nB) * nB
      var pre = 0L
      val partial = ds.sortBy(d => (h(d._1), d._1)).filter { d =>
        val keep = pre < rem; pre += d._2; keep
      }
      ds.flatMap(d => (1L to fullE).map(e => (d._1, b, d._2, e))) ++
        partial.map(d => (d._1, b, d._2, fullE + 1))
    }.toSet
    assert(rows.toSet == want, {
      val extra = rows.toSet -- want
      val missing = want -- rows.toSet
      s"schedule drift: extra=${extra.take(5)} missing=${missing.take(5)}"
    })
    // laws: epochs per doc are dense from 1; nobody exceeds cap + 1;
    // the schedule both repeats something and truncates something
    rows.groupBy(_._1).foreach { case (id, g) =>
      val es = g.map(_._4).sorted
      assert(es.toSeq == (1L to es.length).toSeq, s"doc $id epochs $es")
      assert(es.length <= cap + 1, s"doc $id over the cap")
    }
    val perBucketMax = rows.groupBy(_._2).view.mapValues(_.map(_._4).max)
    assert(perBucketMax.values.exists(_ > 1), "nothing repeated")
    val docsSeen = rows.map(_._1).toSet
    assert(t16rows.exists(d => !docsSeen.contains(d._1)) ||
      rows.groupBy(_._1).values.exists(_.size < cap + 1),
      "nothing truncated — budget covers everything everywhere")
  }

  test("t28: growth curve is exact, monotone, and front-loaded (Heaps)") {
    val rows = TextAnalysis.t28.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val docs = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // final point: the whole corpus and its whole vocabulary
    assert(rows.last._2 == docs.length.toLong)
    assert(rows.last._3 == docs.map(_._2.split(" ").length.toLong).sum)
    assert(rows.last._4 ==
      docs.flatMap(_._2.split(" ")).distinct.length.toLong)
    // cumulative: strictly monotone docs/tokens, non-decreasing vocab
    rows.sliding(2).foreach { case Array(p, c) =>
      assert(c._2 > p._2 && c._3 > p._3 && c._4 >= p._4)
    }
    // Heaps sublinearity: the first bucket contributes more NEW types
    // than the last (first-occurrence attribution front-loads growth)
    val newTypes = rows.map(_._4).zip(0L +: rows.map(_._4)).map {
      case (c, p) => c - p
    }
    assert(newTypes.head > newTypes.last,
      s"vocabulary growth not front-loaded: $newTypes")
  }

  test("p13: diff statuses partition both snapshots, counts exact") {
    val rows = ops.CleanCorpus.p13.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = model.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
    val removed = ids.filter(_ % 13 == 0)
    val added = ids.filter(_ % 11 == 0)
    val changed = ids.filter(id => id % 13 != 0 && id % 7 == 0)
    val unchanged = ids.filter(id => id % 13 != 0 && id % 7 != 0)
    assert(rows("removed")._1 == removed.length.toLong)
    assert(rows("removed")._2 == removed.sum)
    assert(rows("added")._1 == added.length.toLong)
    assert(rows("added")._2 == added.map(_ + 10000000L).sum)
    assert(rows("changed")._1 == changed.length.toLong)
    assert(rows("changed")._2 == changed.sum)
    assert(rows("unchanged")._1 == unchanged.length.toLong)
    assert(rows("unchanged")._2 == unchanged.sum)
  }

  test("p14: leakage pairs are exactly the cross-split d03 candidates") {
    val got = ops.CleanCorpus.p14.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val cands = ops.Dedup.d03.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.nonEmpty, "no near-dup candidates to audit")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def split(id: Long): String = {
      val b = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val want = cands.map { case (i, j) => (i, j, split(i), split(j)) }
      .filter(p => p._3 != p._4).sortBy(p => (p._1, p._2))
    assert(got.toSeq == want.toSeq,
      s"got ${got.length} leaked pairs, want ${want.length}")
    info(s"${want.length} of ${cands.length} candidate pairs cross a split")
  }

  test("t27 guard band: no bigram cost near a micro rounding boundary") {
    val raw = ops.TextAnalysis.bigramCostRaw(spark, sf).collect()
      .map(_.getDouble(2))
    assert(raw.nonEmpty)
    val minDist = raw.map { v =>
      val x = v * 1000000.0
      math.abs(x - math.floor(x) - 0.5)
    }.min
    info(f"min distance to a rounding boundary: $minDist%.6f micros")
    assert(minDist > 1e-4,
      f"a 1-ulp ln divergence could flip quantisation: $minDist%.2e")
  }

  test("t27: transition counts, coverage, and a sequential recompute") {
    val rows = TextAnalysis.t27.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val docs = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
    // one row per doc with >= 2 tokens; n_bigrams = n_tokens - 1
    val scorable = docs.filter(_._2.length >= 2)
    assert(rows.length == scorable.size, "one row per scorable doc")
    rows.foreach { case (id, nb, _) =>
      assert(nb == docs(id).length - 1, s"doc $id transition count")
    }
    // sequential driver recompute: train counts, quantise per-bigram
    // cost, integer mean — must equal the distributed result exactly
    val uc = docs.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val bi = docs.values.toSeq.flatMap(t => t.zip(t.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vsz = uc.size.toLong
    val costMicro = bi.map { case (p, c12) =>
      p -> math.round(
        math.log((uc(p._1) + vsz).toDouble / (c12 + 1).toDouble) * 1e6)
    }
    rows.foreach { case (id, nb, score) =>
      val t = docs(id)
      val sum = t.zip(t.tail).map(costMicro).sum
      assert(score == Math.floorDiv(sum, nb), s"doc $id score")
    }
    // the scorer separates the corpus (not a constant column)
    assert(rows.map(_._3).distinct.length > 1)
  }

  test("t29 kwic: every snippet reassembles a verbatim substring; counts exact") {
    val rows = ops.TextAnalysis.t29.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    assert(rows.nonEmpty)
    val text = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, kw, pos, l, rr) =>
      val words = text(id).split(" ")
      assert(words(pos.toInt) == kw, s"doc $id pos $pos is not $kw")
      val snippet = Seq(l, kw, rr).filter(_.nonEmpty).mkString(" ")
      assert(text(id).contains(snippet), s"doc $id snippet not verbatim")
      assert(l == words.slice(math.max(pos.toInt - 3, 0), pos.toInt)
        .mkString(" "), s"doc $id left ctx")
      assert(rr == words.slice(pos.toInt + 1, pos.toInt + 4).mkString(" "),
        s"doc $id right ctx")
    }
    // exactly one row per occurrence — no dropped or duplicated hits
    val expected = text.toSeq.flatMap { case (id, t) =>
      t.split(" ").zipWithIndex.collect {
        case (w, i) if w == "spark" || w == "vector" => (id, w, i.toLong)
      }
    }.toSet
    assert(rows.map(t => (t._1, t._2, t._3)).toSet == expected)
    // boundary coverage: some match within 3 words of a doc edge
    assert(rows.exists(_._4.split(" ").length < 3) ||
      rows.exists(_._4.isEmpty))
    assert(rows.exists(r => r._5.split(" ").length < 3 || r._5.isEmpty))
  }

  test("t30 novelty equals a sequential shingle-df recompute; dup law holds") {
    import org.apache.spark.sql.functions._
    val got = ops.TextAnalysis.t30.run(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docs = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val df = sh.values.toSeq.flatMap(_.toSeq)
      .groupBy(identity).view.mapValues(_.size).toMap
    docs.foreach { case (id, _) =>
      val g = sh(id)
      val uniq = g.count(df(_) == 1).toLong
      val ppm = if (g.isEmpty) 1000000L else uniq * 1000000L / g.size
      assert(got(id) == ((g.size.toLong, uniq, ppm)), s"doc $id")
    }
    // the corpus's near-dup structure must surface: some doc shares
    // EVERY gram (novelty 0) while others are fully original
    assert(got.values.exists(_._3 == 0L),
      "no fully-covered doc - near-dup structure not surfacing")
    // p15's first gate consumes exactly this signal: its near_dup stage
    // must drop exactly the novelty-0 docs
    val funnel = ops.CleanCorpus.p15.run(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(funnel(0)._4 == got.values.count(_._3 == 0L).toLong)
    // funnel conservation: sequential, telescoping, never double-charged
    funnel.foreach { case (_, _, nIn, drop, nOut, ppm) =>
      assert(nIn - drop == nOut)
      assert(ppm == drop * 1000000L / nIn)
    }
    assert(funnel(0)._5 == funnel(1)._3 && funnel(1)._5 == funnel(2)._3)
    assert(funnel(2)._5 > 0, "funnel annihilated the corpus - thresholds broken")
    assert(funnel.map(_._4).sum > 0, "no gate fired - funnel vacuous")
    assert(got.values.exists(v => v._3 > 0L && v._2 == v._1 - 1 || v._3 > 600000L),
      "no high-novelty doc")
    // and the score genuinely spreads
    assert(got.values.map(_._3).toSet.size > 10)
  }

  test("p16: per-stratum PPS counts are closed-form; sampling favors weight") {
    import org.apache.spark.sql.functions.col
    val sel = ops.CleanCorpus.p16.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(sel.nonEmpty)
    // recompute each stratum's expected point count in closed form:
    // points = ceil((W - strt) / step), strt = step/2, step = max(W/q, 1)
    val docs = model.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def bucketOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"p16:$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
      h % ops.CleanCorpus.PpsBuckets
    }
    val strata = docs.groupBy(d => (d._2, bucketOf(d._1)))
    strata.foreach { case ((src, b), ds) =>
      val w = ds.map(_._3).sum
      val step = math.max(w / ops.CleanCorpus.PpsQuota, 1L)
      val strt = step / 2
      val expectPoints = (w - strt + step - 1) / step
      val gotPoints = sel.filter(r => r._1 == src && r._2 == b).map(_._5).sum
      assert(gotPoints == expectPoints,
        s"stratum ($src,$b): $gotPoints points != closed-form $expectPoints")
    }
    // PPS law: inclusion ∝ weight, so the sampled docs' mean weight must
    // exceed the corpus mean (deterministic on this corpus)
    val sampleMean = sel.map(_._4).sum.toDouble / sel.length
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"PPS shows no size bias: $sampleMean <= $corpusMean")
    // multiplicity only ever comes from a doc heavier than the step
    sel.filter(_._5 > 1).foreach { case (src, b, id, wt, times) =>
      val ds = strata((src, b))
      val step = math.max(ds.map(_._3).sum / ops.CleanCorpus.PpsQuota, 1L)
      assert(wt > (times - 1) * step,
        s"doc $id selected $times times but weighs $wt <= ${(times - 1)} * $step")
    }
  }

  test("t31: tokenization commutes with aggregation and never leaks the id") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5, substring}
    val got = ops.TextAnalysis.t31.run(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // analyze-then-pseudonymize: aggregate per RAW user, then re-key
    // through the same token map — must equal the published table
    val raw = model.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions
          .sum(org.apache.spark.sql.functions
            .expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(concat(lit("anon-"), substring(md5(concat(lit("t31:"),
        col("user_id").cast("string"))), 1, 12)).as("tok"),
        col("n"), col("cents"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == raw, "pseudonymize-then-analyze != analyze-then-pseudonymize")
    // unlinkability sanity: no token embeds its raw id
    val ids = model.Tables.events(spark, sf).select("user_id").distinct()
      .collect().map(_.getLong(0).toString).toSet
    got.keys.foreach { t =>
      assert(t.startsWith("anon-") && !ids.contains(t.stripPrefix("anon-")),
        s"token $t leaks its id")
    }
  }

  test("p17: contamination matrix — completeness, recompute, threshold law") {
    import org.apache.spark.sql.functions._
    val rows = ops.CleanCorpus.p17.run(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val sources = model.Tables.documents(spark, sf)
      .select("source").distinct().collect().map(_.getString(0)).sorted
    // completeness: every unordered source pair appears exactly once,
    // canonically ordered
    val expected = (for {
      a <- sources; b <- sources if a < b
    } yield (a, b)).toSet
    assert(rows.keySet == expected)
    // brute-force recompute of one row (the lexicographic first pair)
    def shs(src: String): Set[String] = model.Tables.documents(spark, sf)
      .filter(col("source") === src)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    val (a, b) = (sources(0), sources(1))
    val (sa, sb) = (shs(a), shs(b))
    val (ov, ca, cb, _) = rows((a, b))
    assert(ov == (sa & sb).size.toLong, s"($a,$b) overlap")
    assert(ca == ov * 1000000L / sa.size, s"($a,$b) contain_a")
    assert(cb == ov * 1000000L / sb.size, s"($a,$b) contain_b")
    // threshold law: elevated ⟺ overlap ≥ 2 × lower-median overlap
    val overlaps = rows.values.map(_._1).toSeq.sorted
    val m = overlaps((overlaps.size + 1) / 2 - 1)
    for (((x, y), (o, _, _, e)) <- rows)
      assert(e == (o >= 2 * m), s"($x,$y) elevated at $o vs median $m")
    // the audit is non-vacuous: both verdicts occur on this corpus
    assert(rows.values.exists(_._4) && rows.values.exists(!_._4))
  }

  test("t33: repetition gates — brute-force recompute, non-vacuity, documented trivial gates") {
    val rows = ops.TextAnalysis.t33.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == docs.keySet)
    // brute-force recompute of every doc's top-2-gram and dup-5-gram
    // character masses (token chars only, against the space-free
    // denominator)
    for ((id, text) <- docs) {
      val w = text.split(" ", -1)
      val nc = text.length - (w.length - 1)
      def grams(n: Int) = w.sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq
      // count-argmax gram first (ties → larger char mass), THEN its
      // mass — the paper's "most frequently-occurring n-gram" rule
      val top2 = if (w.length < 2) 0L else {
        // iterator, not Map.map: tuple results into a Map would collapse
        // equal counts and lose all but one gram's length
        val (c, gl) = grams(2).groupBy(identity).iterator
          .map { case (g, os) => (os.size.toLong, (g.length - 1).toLong) }
          .max
        c * gl
      }
      val dup5 = if (w.length < 5) 0L else grams(5).groupBy(identity)
        .collect { case (g, os) if os.size >= 2 =>
          os.size.toLong * (g.length - 4) }.sum
      val r = rows(id)
      assert(r.getLong(r.fieldIndex("top2_ppm")) == top2 * 1000000L / nc,
        s"doc $id top2")
      assert(r.getLong(r.fieldIndex("dup5_ppm")) == dup5 * 1000000L / nc,
        s"doc $id dup5")
      assert(r.getBoolean(r.fieldIndex("keep_top2")) == (5 * top2 <= nc))
      assert(r.getBoolean(r.fieldIndex("keep")) ==
        Seq("keep_top2", "keep_top3", "keep_top4", "keep_dup5", "keep_dup6")
          .forall(c => r.getBoolean(r.fieldIndex(c))))
    }
    // the top-2 gate rejects on this corpus (non-vacuous) ...
    assert(rows.values.exists(r => !r.getBoolean(r.fieldIndex("keep_top2"))),
      "no doc fails the top-2-gram gate — repetition gates are vacuous")
    // ... while the dup-{5,6} gates pass trivially (documented in the
    // scaladoc; this assertion is the tripwire if the corpus changes)
    assert(rows.values.forall(r =>
      r.getLong(r.fieldIndex("dup5_ppm")) == 0L &&
        r.getLong(r.fieldIndex("dup6_ppm")) == 0L),
      "corpus now has within-doc 5/6-gram repetition — update the t33 " +
        "scaladoc's triviality note")
  }

  test("p19: the release card folds exactly from p18's curated corpus") {
    val corpus = ops.CleanCorpus.p18.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val card = ops.CleanCorpus.p19.run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val bySource = corpus.groupBy(_._2)
    assert(card.keySet == bySource.keySet, "card sources != corpus sources")
    val total = corpus.map(_._5).sum
    for ((src, docs) <- bySource) {
      val (n, tok, bins, share) = card(src)
      assert(n == docs.length, s"$src docs")
      assert(tok == docs.map(_._5).sum, s"$src tokens")
      assert(bins == docs.map(d => (d._3, d._4)).distinct.length, s"$src bins")
      assert(share == docs.map(_._5).sum * 1000000L / total, s"$src share")
    }
    // shares partition (almost) the whole ppm scale
    val shares = card.values.map(_._4).sum
    assert(shares <= 1000000L && shares >= 1000000L - card.size)
  }

  test("t34: DSIR selection enriches the target stratum; top-k never windows the corpus") {
    val got = TextAnalysis.t34.run(spark, sf)
    val plan = got.queryExecution.executedPlan.toString
    // selection must be TakeOrderedAndProject on the doc-score table —
    // a corpus-global Window before the limit is the banned shape
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == TextAnalysis.DsirTopN)
    assert(rows.map(_._4).toSeq == (1L to TextAnalysis.DsirTopN).toSeq,
      "ranks not dense 1..N")
    // scores arrive sorted and strictly follow the (score desc, doc_id)
    // tie-break law
    val orderedOk = rows.sliding(2).forall {
      case Array((d1, _, s1, _), (d2, _, s2, _)) =>
        s1 > s2 || (s1 == s2 && d1 < d2)
      case _ => true
    }
    assert(orderedOk, "selection order violates (score desc, doc_id)")
    // the point of DSIR: the selected slice is ENRICHED in the target
    // stratum relative to the corpus base rate
    val langs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baseRate =
      langs.values.count(_ == "en").toDouble / langs.size
    val selRate =
      rows.count(r => langs(r._1) == "en").toDouble / rows.length
    assert(selRate > baseRate,
      f"no enrichment: selected en-rate $selRate%.2f <= base $baseRate%.2f")
  }
}
