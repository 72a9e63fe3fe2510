package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** The flagship composition: the corpus-cleaning job a training-data
  * pipeline actually runs at 100 TB, assembled from this engine's own
  * operators — nothing here is new logic, which is the point: the
  * operators compose as DataFrames, and Catalyst plans the whole as one
  * query.
  *
  * Stages (each individually oracled elsewhere):
  *  1. held-out split: drop the eval slice (`doc_id % 10 = 0`) — t07's
  *     benchmark stand-in;
  *  2. near-dup dedup: keep only cluster keepers from d08's connected
  *     components over the d02 edge set (at production scale the edges
  *     come from d03's LSH candidates + verification; the exact edge set
  *     keeps this oracle-checkable end to end);
  *  3. decontamination: anti-join t07's contaminated set — the corpus
  *     side never shuffles for this (broadcast eval shingles);
  *  4. language selection + quality gate (t02's score).
  *
  * The oracle composes the SAME shared CTE strings the stage oracles
  * use ([[Dedup.clustersSql]], [[TextAnalysis.contaminationSql]],
  * [[TextAnalysis.qualitySql]]) — one definition per stage, so the
  * composition cannot drift from its parts.
  */
object CleanCorpus {

  val QualityThreshold = 0.10

  val p01 = Q("p01_clean_corpus",
    s"""WITH RECURSIVE ${Dedup.shinglesSql},
       |${Dedup.clustersSql},
       |${TextAnalysis.contaminationSql},
       |${TextAnalysis.qualitySql}
       |SELECT d.doc_id, d.source, d.lang, q.quality
       |FROM documents d
       |JOIN clusters c ON c.doc_id = d.doc_id
       |JOIN quality q ON q.doc_id = d.doc_id
       |LEFT JOIN contaminated x ON x.doc_id = d.doc_id
       |WHERE d.doc_id % 10 <> 0
       |  AND c.cluster = d.doc_id
       |  AND x.doc_id IS NULL
       |  AND d.lang = 'en'
       |  AND q.quality >= $QualityThreshold
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val keepers = Dedup.d08.run(s, d)
      .filter(col("is_keeper")).select("doc_id")
    val contaminated = TextAnalysis.t07.run(s, d).select("doc_id")
    val quality = TextAnalysis.t02.run(s, d).select("doc_id", "quality")
    docs
      .filter(col("doc_id") % 10 =!= 0 && col("lang") === "en")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(quality, "doc_id")
      .filter(col("quality") >= QualityThreshold)
      .select("doc_id", "source", "lang", "quality")
      .orderBy("doc_id")
  }

  /** Token budget per packed training sequence. */
  val PackBudget = 2048L
  val PackShards = 8L

  /** Shared packing CTEs over any `(doc_id, n_tokens)` source — `pt`
    * assigns the md5-head shard, `pc` the exclusive running token count.
    * One definition serves [[p02]] and the [[p05]] composition (the
    * p01/shinglesSql no-drift pattern). */
  private[ops] def packCtes(src: String): String =
    s"""pt AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % $PackShards AS shard
       |  FROM $src),
       |pc AS (
       |  SELECT doc_id, shard, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum
       |  FROM pt)""".stripMargin

  /** [[p02]]'s dataflow over any `(doc_id, n_tokens)` frame — exposed as
    * a library function so compositions reuse the operator, not a copy. */
  def packSequences(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % PackShards
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), shard.as("shard"), col("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"),
        floor(col("cum") / PackBudget).as("bin"), col("n_tokens"))
  }

  /** Sequence packing — the pre-tokenization step that concatenates
    * short documents into fixed-budget training sequences. Greedy
    * sequential fill per SHARD: exclusive running token count within the
    * shard, bin = floor(cum/budget) — a doc opens a new bin when the
    * running total crosses the budget. Packing per shard (not globally)
    * is the scale-correct form: each shard's cumsum is an independent
    * partitioned window (contrast n02's single-partition trap), shards
    * pack in parallel, and the global bin id is (shard, bin). Oracled
    * end-to-end: shard hash, cumsum, and bin arithmetic are exact
    * integers in both engines. */
  val p02 = Q("p02_pack_sequences",
    s"""WITH t0 AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |${packCtes("t0")}
       |SELECT doc_id, shard, CAST(cum // $PackBudget AS BIGINT) AS bin,
       |  CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM pc ORDER BY doc_id""".stripMargin) { (s, d) =>
    packSequences(Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .orderBy("doc_id")
  }

  /** Per-class sample quota for [[p03]]. */
  val SampleQuota = 30L

  /** Balanced class-quota subsampling — the downsampling step a
    * class-imbalanced training corpus needs: classify (n03's exact
    * operator), then keep at most [[SampleQuota]] docs per category,
    * chosen by ranking on a deterministic content-free hash of the id.
    * Hash ranking instead of `rand(seed)` is the scale-correct choice:
    * the sample is a pure function of the data — identical across
    * engines, reruns, partition counts, and cluster sizes — where
    * seeded RNG sampling depends on partitioning and cannot be
    * oracled. The window is key-partitioned by category (strata rank
    * in parallel; no single-partition funnel), and at 100 TB the same
    * query runs unchanged: quota selection shuffles only (category,
    * hash) pairs. */
  val p03 = Q("p03_balanced_sample",
    s"""${NewsPipeline.classifiedCte},
       |ranked AS (
       |  SELECT doc_id, category,
       |         row_number() OVER (PARTITION BY category
       |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM classified)
       |SELECT doc_id, category, CAST(rn AS BIGINT) AS sample_rank
       |FROM ranked WHERE rn <= $SampleQuota
       |ORDER BY category, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("category")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    NewsPipeline.classify(Tables.documents(s, d))
      .select(col("doc_id"), col("category"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= SampleQuota)
      .orderBy("category", "doc_id")
  }

  /** Per-source token budget tiers for [[p04]] (tokens; source number
    * mod 3 picks the tier — a stand-in for a real mixing-weight table). */
  val MixBudgetUnit = 250L

  /** Data mixing under per-source token budgets — the step that turns
    * mixing WEIGHTS ("webtext 50%, wiki 30%, ...") into an actual
    * training subset: per source, take docs in deterministic-hash order
    * until that source's token budget is filled. Same prefix-closed
    * greedy as n10's sentence fill: "take while used < budget" ≡ a
    * strictly-preceding running token sum under the budget, so the
    * whole selection is one source-partitioned window — no driver loop,
    * rerun/partition-count stable (hash order, not `rand()`), and the
    * final doc that crosses the budget is included, matching how token
    * budgets are filled in practice (truncate at the sequence level,
    * not the document level). At 100 TB: one (source, hash) shuffle;
    * sources fill in parallel. */
  /** Shared mixing CTEs over any `(doc_id, source, n_tokens)` source —
    * `mr` ranks docs per source by deterministic hash with the
    * strictly-preceding token sum, `msel` keeps the budget-filling
    * prefix. One definition serves [[p04]] and [[p05]]. */
  private[ops] def mixCtes(src: String): String =
    s"""mr AS (
       |  SELECT doc_id, source, n_tokens,
       |    (CAST(substr(source, 4) AS INT) % 3 + 1) * $MixBudgetUnit AS budget,
       |    row_number() OVER mwin AS pick_rank,
       |    coalesce(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM $src
       |  WINDOW mwin AS (PARTITION BY source
       |                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)),
       |msel AS (
       |  SELECT doc_id, source, n_tokens, budget, pick_rank
       |  FROM mr WHERE prior < budget)""".stripMargin

  /** [[p04]]'s dataflow over any `(doc_id, source, n_tokens)` frame. */
  def budgetMix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("budget",
        (expr("CAST(substr(source, 4) AS INT)") % 3 + 1) * MixBudgetUnit)
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .withColumn("prior", coalesce(
        sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .filter(col("prior") < col("budget"))
      .select("doc_id", "source", "n_tokens", "budget", "pick_rank")
  }

  val p04 = Q("p04_token_budget_mix",
    s"""WITH t AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |${mixCtes("t")}
       |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(budget AS BIGINT) AS budget, CAST(pick_rank AS BIGINT) AS pick_rank
       |FROM msel
       |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
    budgetMix(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))
      .orderBy("source", "doc_id")
  }

  /** The training-data ASSEMBLY composition — the downstream half of the
    * pipeline ([[p01]] is the cleaning half): deterministic train split
    * (t09's md5 bucket) → per-source token-budget mixing ([[budgetMix]])
    * → sequence packing ([[packSequences]]), one Catalyst plan end to
    * end. Each stage is individually oracled (t09/p04/p02); the
    * composition reuses the SAME functions and CTE fragments, so it
    * cannot drift from its parts. Stage keys differ (source → shard), so
    * the plan is: one scan, the mix window's (source, hash) shuffle, the
    * pack window's shard shuffle, a broadcast-size rejoin for `source` —
    * nothing quadratic, nothing single-partition, at any corpus size. */
  val p05 = Q("p05_training_mix",
    s"""WITH sb AS (
       |  SELECT doc_id, source,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 AS bucket,
       |    len(string_split(text, ' ')) AS n_tokens
       |  FROM documents),
       |train AS (SELECT doc_id, source, n_tokens FROM sb WHERE bucket < 80),
       |${mixCtes("train")},
       |${packCtes("msel")}
       |SELECT p.doc_id, m.source, p.shard,
       |  CAST(p.cum // $PackBudget AS BIGINT) AS bin,
       |  CAST(p.n_tokens AS BIGINT) AS n_tokens
       |FROM pc p JOIN msel m ON m.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val train = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        bucket.as("bucket"))
      .filter(col("bucket") < 80).drop("bucket")
    val mixed = budgetMix(train)
    val packed = packSequences(mixed.select("doc_id", "n_tokens"))
    packed.join(mixed.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("shard"), col("bin"),
        col("n_tokens"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- p06
  val DsirBuckets = 4096
  val DsirTopK = 100L

  /** Shared log-ratio expression — ONE string, spliced verbatim into both
    * engines so the double-arithmetic tree is shape-identical (the t13
    * discipline: quantise to integer micros immediately; ln is the only
    * op without a cross-libm bit guarantee and the spec proves a guard
    * band around every rounding boundary). */
  private val dsirLrExpr =
    s"""CAST(round((ln(coalesce(cnt_t, 0) + 1.0) - ln(n_t + $DsirBuckets.0)
       |          - ln(cnt_s + 1.0) + ln(n_s + $DsirBuckets.0))
       |          * 1000000.0) AS BIGINT)""".stripMargin

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") over any
    * `(doc_id, text)` frame. Target distribution = the held-out eval
    * slice (`doc_id % 10 = 0`, t07's convention); candidates = the rest.
    * Features are hashed unigram buckets (md5-head mod [[DsirBuckets]] —
    * the portable-hash family every dedup op uses); a doc's log
    * importance weight `ln Π p_tgt(b)/p_src(b)` is the order-free
    * integer sum of per-bucket Laplace-smoothed log-ratio micros.
    *
    * 100 TB plan: token explode rides the scan; two 4096-key count
    * aggregations (map-side combine) produce a bucket table that is
    * BROADCAST back — the corpus never shuffles for scoring; one doc_id
    * shuffle for the score sum; TakeOrdered for the cut. */
  private def dsirTokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    .select(col("doc_id"),
      (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
        % DsirBuckets).as("b"))

  /** Per-bucket smoothed log-ratio table (`b, lr_raw, lr_micro`) —
    * ≤ [[DsirBuckets]] rows, the broadcast side of the scoring join.
    * `lr_raw` (the pre-rounding micro value) exists only for the
    * guard-band spec. */
  private[graft] def dsirBucketRatios(docs: DataFrame): DataFrame = {
    // r17 (guide §1.2 step 1 + the p06 plan-instability pin, r16
    // VERDICT item 4): target counts, source counts and the two totals
    // all fold into ONE ≤4096-key aggregation over ONE token-explode
    // pass (the former shape ran THREE independent corpus explodes —
    // tgt, srcCnt, tot), and the bucket table is CHECKPOINTED so the
    // broadcast-back side of the scoring join is a stats-known tiny
    // leaf — AQE has no corpus-sized subtree left to re-plan (the
    // 0.7 s/8.3 s bimodal mode the r16 driver measured on identical
    // code). Equivalences: cnt_t = 0 rows behave as the former LEFT
    // JOIN's NULLs under the shared coalesce; rows exist iff cnt_s ≥ 1
    // (the former srcCnt inner base); n_t/n_s are the bucket sums of
    // the same token sets the former corpus-wide count measured.
    val bkt = dsirTokens(docs)
      .groupBy("b")
      .agg(count(when(col("doc_id") % 10 === 0, 1)).as("cnt_t"),
        count(when(col("doc_id") % 10 =!= 0, 1)).as("cnt_s"))
      .localCheckpoint()
    val tot = bkt.agg(
      sum("cnt_t").as("n_t"), sum("cnt_s").as("n_s"))
    bkt.filter(col("cnt_s") >= 1)
      .crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"""(ln(coalesce(cnt_t, 0) + 1.0) - ln(n_t + $DsirBuckets.0)
                |- ln(cnt_s + 1.0) + ln(n_s + $DsirBuckets.0)) * 1000000.0"""
          .stripMargin).as("lr_raw"),
        expr(dsirLrExpr).as("lr_micro"))
  }

  def importanceScores(docs: DataFrame): DataFrame =
    dsirTokens(docs).filter(col("doc_id") % 10 =!= 0)
      .join(broadcast(dsirBucketRatios(docs).select("b", "lr_micro")), "b")
      .groupBy("doc_id")
      .agg(sum("lr_micro").as("score_micro"))

  /** Importance resampling: top-[[DsirTopK]] candidate docs by hashed
    * n-gram importance weight against the eval-slice target — the data
    * selection pass that picks which corpus slice most resembles a
    * target domain before training. */
  val p06 = Q("p06_importance_resample",
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)
       |      % $DsirBuckets AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |        FROM documents)),
       |tgt AS (SELECT b, count(*) AS cnt_t FROM toks
       |        WHERE doc_id % 10 = 0 GROUP BY b),
       |srcc AS (SELECT b, count(*) AS cnt_s FROM toks
       |         WHERE doc_id % 10 <> 0 GROUP BY b),
       |tot AS (
       |  SELECT count(*) FILTER (WHERE doc_id % 10 = 0) AS n_t,
       |         count(*) FILTER (WHERE doc_id % 10 <> 0) AS n_s
       |  FROM toks),
       |lr AS (
       |  SELECT s.b, $dsirLrExpr AS lr_micro
       |  FROM srcc s LEFT JOIN tgt t USING (b) CROSS JOIN tot),
       |scores AS (
       |  SELECT doc_id, CAST(sum(lr_micro) AS BIGINT) AS score_micro
       |  FROM toks JOIN lr USING (b)
       |  WHERE doc_id % 10 <> 0
       |  GROUP BY doc_id)
       |SELECT doc_id, score_micro,
       |  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
       |    AS BIGINT) AS rank
       |FROM scores QUALIFY rank <= $DsirTopK ORDER BY rank""".stripMargin) {
    (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val scores = importanceScores(
        Tables.documents(s, d).select("doc_id", "text"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(DsirTopK.toInt)
      scores
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("score_micro").desc, col("doc_id")))
          .cast("long"))
        .orderBy("rank")
  }

  // ---------------------------------------------------------------- p07
  /** Worker-shard count for [[p07]]'s stratified curriculum. */
  val CurriculumShards = 8

  /** Curriculum ordering — the training-schedule operator (Bengio et
    * al. 2009's easy→hard regime, as production pipelines run it):
    * documents phase by t16's LM-perplexity tiers (head = most
    * predictable = phase 1, then middle, tail), and WITHIN each phase
    * stratify into [[CurriculumShards]] worker shards by a portable
    * md5-head hash, each shard ordered by the same hash — so every
    * worker's stream is an unbiased deterministic sample of its phase,
    * and epoch order survives retries/re-runs the way t09's split does
    * (`rand()` would not). The ranking window keys on (phase, shard) —
    * per-stratum state, never corpus-global (the n02 rule; compare t16
    * itself, which bucketes without any corpus window). Composes
    * t16.run, so the oracle's re-derivation is hash-checked against
    * the real bucketing code each round; the oracle embeds t16's own
    * SQL verbatim as a CTE — zero drift by construction. */
  val p07 = Q("p07_curriculum_order", {
    val t16Sql = TextAnalysis.t16.oracle.get
    s"""WITH t16o AS ($t16Sql),
       |ranked AS (
       |  SELECT doc_id,
       |    CASE bucket WHEN 'head' THEN 1 WHEN 'middle' THEN 2
       |         ELSE 3 END AS phase,
       |    CAST(concat('0x', substr(md5('cur' || CAST(doc_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) AS h
       |  FROM t16o)
       |SELECT doc_id, CAST(phase AS BIGINT) AS phase,
       |  CAST(h % $CurriculumShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY phase, h % $CurriculumShards
       |       ORDER BY h, doc_id) AS BIGINT) AS rk
       |FROM ranked ORDER BY phase, shard, rk""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("cur"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val ranked = TextAnalysis.t16.run(s, d)
      .select(col("doc_id"),
        when(col("bucket") === "head", 1L)
          .when(col("bucket") === "middle", 2L)
          .otherwise(3L).as("phase"),
        h.as("h"))
      .withColumn("shard", (col("h") % CurriculumShards).cast("long"))
    val w = Window.partitionBy("phase", "shard")
      .orderBy(col("h"), col("doc_id"))
    ranked
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("phase"), col("shard"), col("rk"))
      .orderBy("phase", "shard", "rk")
  }

  // ---------------------------------------------------------------- p08
  /** Deterministic corpus shuffle — the step between cleaning and
    * packing: training examples must be decorrelated from crawl/source
    * order, reproducibly (same seed ⇒ same permutation, restarts and
    * reruns included). The permutation is materialised the only way a
    * 100 TB corpus can be: as SHARDS — shard = first hex digit of the
    * doc's salted md5 (16-way), position = rank of the salted key WITHIN
    * the shard. Every window is shard-keyed; a single global row_number
    * would be a corpus-global sort through one task (the n02 ban). At
    * cluster scale this is `repartitionByRange(shard, key)` + local
    * sort — shards write in parallel and a reader streaming shard 0..15
    * sees a fixed pseudorandom order. Salting the hash with a seed
    * string makes epochs cheap: a new seed is a brand-new permutation,
    * no state. Both engines compute the identical md5, so the
    * permutation is cross-engine pinned — the reproducibility claim IS
    * the oracle. */
  val ShuffleSeed = "epoch-0"

  val p08 = Q("p08_corpus_shuffle",
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS k
       |  FROM documents),
       |sharded AS (
       |  SELECT doc_id, k,
       |    CAST(instr('0123456789abcdef', substr(k, 1, 1)) - 1 AS BIGINT)
       |      AS shard
       |  FROM keyed)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
       |    AS BIGINT) AS pos
       |FROM sharded ORDER BY doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      md5(concat(lit(s"$ShuffleSeed:"), col("doc_id").cast("string"))).as("k"))
    val sharded = keyed.withColumn("shard",
      expr("instr('0123456789abcdef', substr(k, 1, 1)) - 1").cast("long"))
    sharded
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("k", "doc_id")).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- p09
  /** Stratified deterministic sampling — "k docs per (lang, source)
    * stratum" for eval sets, ablations, and per-domain mixture caps.
    * The sample is bottom-k by a SEEDED portable hash (uniform without
    * replacement under hash uniformity), so it is restart/retry-stable
    * where `TABLESAMPLE`/`rand()` are not (t09's discipline), a new
    * seed is a fresh independent sample (p08's epoch trick), and both
    * engines derive the identical member set — the oracle pins every
    * sampled doc_id, not a count.
    *
    * The production path is the native [[graft.plans.TopKPerKey]]
    * operator (q46's tier, installed by [[graft.GraftSession.configure]])
    * rewriting the portable `row_number() <= k` idiom: per-map-partition
    * bounded heaps forward AT MOST k rows per stratum into the exchange,
    * so the shuffle is sample-sized — ≤ k·|strata| rows per map
    * partition — while the window plan would shuffle and SORT the whole
    * corpus per stratum. `CorpusOpsSpec` pins plan shape (2 heap nodes,
    * zero Window/Sort), parity with the same body run with the rewrite
    * excluded, and exact stratum sizes min(k, |s|). */
  val SampleSeed = "sample-0"
  val SampleK = 50

  val p09 = Q("p09_stratified_sample",
    s"""WITH keyed AS (
       |  SELECT lang, source, doc_id,
       |    CAST(concat('0x',
       |      substr(md5('$SampleSeed:' || CAST(doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM documents)
       |SELECT lang, source, doc_id FROM (
       |  SELECT lang, source, doc_id,
       |    row_number() OVER (PARTITION BY lang, source
       |      ORDER BY h, doc_id) AS rn
       |  FROM keyed)
       |WHERE rn <= $SampleK
       |ORDER BY lang, source, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .selectExpr("lang", "source", "doc_id",
        s"CAST(conv(substr(md5(concat('$SampleSeed:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang", "source").orderBy(col("h"), col("doc_id"))))
      .filter(col("rn") <= SampleK)
      .select("lang", "source", "doc_id")
      .orderBy("lang", "source", "doc_id")
  }

  // ---------------------------------------------------------------- p10
  /** Temperature-balanced mixture sampling — the UniMax/multilingual
    * rebalancing op (Chung et al. 2023; the α-temperature trick of
    * mT5/XLM-R data mixing) at α = 1/2: source s draws quota
    * `k_s = ⌊B·⌊√n_s⌋ / Σ_t ⌊√n_t⌋⌋`, flattening the head sources and
    * boosting the tail relative to proportional sampling. The INTEGER
    * sqrt keeps every quota exactly replayable (correctly-rounded double
    * sqrt is exact for n < 2⁵², then floor — no float ratio survives
    * into the output); membership is bottom-quota by seeded portable
    * hash (p09's restart-stable discipline — no rand()), so the oracle
    * pins every sampled doc_id. Quotas above n_s self-cap (rank can't
    * exceed the stratum). Scale shape: counts are one map-side-combined
    * agg; the quota table is sources-sized and broadcast; ranking is one
    * keyed window per source (the rank bound is a column, so p09's
    * constant-bound TopKPerKey rewrite does not apply). */
  val TempBudget = 200

  /** p10's quota derivation over any `(doc_id, source)` frame: per-source
    * counts, integer sqrt weights, `(B·w_s) DIV Σw` quotas. The counts
    * aggregate is computed once; the sources-sized total re-joins by
    * broadcast. */
  private[graft] def temperatureQuotas(docs: DataFrame, budget: Int): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("sw", expr("CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT)"))
    counts
      .crossJoin(broadcast(counts.agg(sum("sw").as("tw"))))
      .withColumn("quota", expr(s"($budget * sw) DIV tw"))
      .select("source", "n_s", "quota")
  }

  val p10 = Q("p10_temperature_mix",
    s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
       |w AS (SELECT source, n_s, CAST(floor(sqrt(n_s)) AS BIGINT) AS sw FROM c),
       |t AS (SELECT sum(sw) AS tw FROM w),
       |q AS (SELECT source, n_s, ($TempBudget * sw) // tw AS quota
       |      FROM w CROSS JOIN t),
       |r AS (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source ORDER BY
       |      CAST(concat('0x', substr(md5('p10:' || CAST(doc_id AS VARCHAR)),
       |        1, 15)) AS BIGINT), doc_id) AS rn
       |  FROM documents)
       |SELECT r.source, r.doc_id,
       |  CAST(q.n_s AS BIGINT) AS n_s, CAST(q.quota AS BIGINT) AS quota
       |FROM r JOIN q ON r.source = q.source
       |WHERE r.rn <= q.quota
       |ORDER BY r.source, r.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select("doc_id", "source")
    val quotas = temperatureQuotas(docs, TempBudget)
    val ranked = docs
      .withColumn("h",
        conv(substring(md5(concat(lit("p10:"), col("doc_id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(quotas), "source")
      .filter(col("rn") <= col("quota"))
      .select(col("source"), col("doc_id"),
        col("n_s").cast("long").as("n_s"), col("quota").cast("long").as("quota"))
      .orderBy("source", "doc_id")
  }

  // ---------------------------------------------------------------- p11
  /** Corpus report card — the per-source dataset-stats table every
    * training-data release publishes (doc/token counts, length bounds,
    * language spread, exact-duplicate rate): one wide aggregation whose
    * every cell is a count or an exact ppm integer, so the whole report
    * oracles cross-engine. Duplicate rate = share of docs whose full-text
    * fingerprint occurs more than once ANYWHERE in the corpus (the d01
    * fingerprint), attributed to each source — the number a mixture
    * audit wants (how much of source X is boilerplate shared with the
    * rest), not the within-source-only rate.
    *
    * Scale shape: fingerprint counts shuffle once on fp (map-side
    * combined), rejoin is equi-keyed on fp, the report aggregation
    * shuffles |sources| groups. No window, no distinct-explosion —
    * `count(DISTINCT lang)` expands to the standard two-phase plan
    * keyed by source. */
  val p11 = Q("p11_corpus_report",
    """WITH d AS (
      |  SELECT source, lang, doc_id,
      |    len(string_split(text, ' ')) AS toks, md5(text) AS fp
      |  FROM documents),
      |fpc AS (SELECT fp, count(*) AS c FROM d GROUP BY fp),
      |j AS (SELECT d.source, d.lang, d.toks, fpc.c
      |      FROM d JOIN fpc ON d.fp = fpc.fp)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(min(toks) AS BIGINT) AS min_tokens,
      |  CAST(max(toks) AS BIGINT) AS max_tokens,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
      |    // CAST(count(*) AS BIGINT) AS dup_ppm
      |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    corpusReport(Tables.documents(s, d)).orderBy("source")
  }

  /** p11's body over any `(source, lang, text)` frame. The live corpus
    * has no exact duplicates (dup_ppm = 0 everywhere), so the dup-rate
    * arithmetic is anti-vacuity-pinned by `CorpusOpsSpec` on a frame
    * with planted cross-source duplicates. */
  private[graft] def corpusReport(raw: DataFrame): DataFrame = {
    val docs = raw
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        md5(col("text")).as("fp"))
    val fpc = docs.groupBy("fp").agg(count(lit(1)).as("c"))
    docs.join(fpc, "fp")
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("toks").cast("long").as("total_tokens"),
        countDistinct("lang").cast("long").as("n_langs"),
        min("toks").cast("long").as("min_tokens"),
        max("toks").cast("long").as("max_tokens"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("ndup"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_langs"), col("min_tokens"), col("max_tokens"),
        expr("(ndup * 1000000) DIV n_docs").as("dup_ppm"))
  }

  /** p12's repetition cap (Muennighoff et al. 2023: up to ~4 epochs of
    * repeated data retain most of fresh-data value; beyond that returns
    * decay fast), the total-budget multiple (train for 2× the corpus'
    * tokens — the data-constrained regime where repetition decisions
    * exist at all), and the per-quality-tier budget shares in ppm
    * (head-heavy: the high-quality tier earns its repeats). */
  val EpochCap = 4
  val EpochBudgetMultiple = 2
  val EpochSharePpm: Map[String, Long] =
    Map("head" -> 500000L, "middle" -> 350000L, "tail" -> 150000L)

  /** Epoch repetition schedule — the data-constrained-scaling op
    * (Muennighoff et al. 2023) that p04/p10 stop short of: when the
    * token budget EXCEEDS the corpus, the pipeline must decide what to
    * see twice, and the answer is quality-tiered — the high-perplexity-
    * quality tier repeats up to [[EpochCap]] epochs while the tail is
    * truncated to a partial single pass. Tiers are t16's perplexity
    * buckets (verbatim-CTE splice — zero drift, ml03's convention);
    * each bucket b gets budget `B_b = (2·corpus_tokens · share_ppm) ÷
    * 10⁶` (integer, DECIMAL(38) product so it stays exact at 100 TB
    * token counts), runs `full_b = min(cap, B_b ÷ n_b)` complete
    * epochs, and fills the remainder with a PARTIAL epoch: docs in
    * seeded portable-hash order (p10's restart-stable discipline)
    * admitted while the strictly-preceding token sum is under the
    * remainder (p04's prefix-closed greedy — deterministic, minimal
    * overshoot). Output is the materialised schedule: one row per
    * (doc, epoch) pass the trainer will take.
    *
    * Scale shape: t16's scoring dominates (documented there); on top of
    * it the schedule is one bucket-keyed token agg (3 groups), a
    * broadcast quota table, one bucket-partitioned window for the
    * prefix sums, and a ≤[[EpochCap]]-wide explode — bounded fanout,
    * no corpus-global ordering anywhere. */
  val p12 = Q("p12_epoch_schedule", {
    val t16Sql = graft.ops.TextAnalysis.t16.oracle.get
    val caseShare = EpochSharePpm.toSeq.sortBy(_._1).map { case (b, s) =>
      s"WHEN '$b' THEN $s" }.mkString(" ")
    s"""WITH t16o AS ($t16Sql),
       |bt AS (SELECT bucket, sum(n_tokens) AS n_b FROM t16o GROUP BY bucket),
       |tot AS (SELECT $EpochBudgetMultiple * sum(n_tokens) AS b2 FROM t16o),
       |q AS (
       |  SELECT bucket, n_b,
       |    CAST((CAST(b2 AS HUGEINT) *
       |      (CASE bucket $caseShare END)) // 1000000 AS BIGINT) AS b_b
       |  FROM bt CROSS JOIN tot),
       |q3 AS (
       |  SELECT bucket, n_b, b_b,
       |    CAST(least($EpochCap, b_b // n_b) AS BIGINT) AS full_e,
       |    CAST(CASE WHEN b_b // n_b >= $EpochCap THEN 0
       |         ELSE b_b - (b_b // n_b) * n_b END AS BIGINT) AS rem
       |  FROM q),
       |r AS (
       |  SELECT t.doc_id, t.bucket, t.n_tokens,
       |    sum(t.n_tokens) OVER (PARTITION BY t.bucket ORDER BY
       |      CAST(concat('0x', substr(md5('p12:' ||
       |        CAST(t.doc_id AS VARCHAR)), 1, 15)) AS BIGINT), t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre
       |  FROM t16o t),
       |fulls AS (
       |  SELECT r.doc_id, r.bucket, CAST(r.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(unnest(range(1, q3.full_e + 1)) AS BIGINT) AS epoch
       |  FROM r JOIN q3 USING (bucket) WHERE q3.full_e >= 1),
       |partials AS (
       |  SELECT r.doc_id, r.bucket, CAST(r.n_tokens AS BIGINT) AS n_tokens,
       |    CAST(q3.full_e + 1 AS BIGINT) AS epoch
       |  FROM r JOIN q3 USING (bucket)
       |  WHERE coalesce(r.pre, 0) < q3.rem)
       |SELECT * FROM fulls UNION ALL SELECT * FROM partials
       |ORDER BY doc_id, epoch""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t16o = graft.ops.TextAnalysis.t16.run(s, d)
      .select("doc_id", "n_tokens", "bucket")
      .localCheckpoint() // feeds budgets, prefix window, and both arms
    val bt = t16o.groupBy("bucket").agg(sum("n_tokens").as("n_b"))
    val tot = t16o.agg(
      (sum("n_tokens") * EpochBudgetMultiple).as("b2"))
    val share = EpochSharePpm.foldLeft(lit(null).cast("long")) {
      case (acc, (b, v)) => when(col("bucket") === b, lit(v)).otherwise(acc)
    }
    val q3 = bt.crossJoin(broadcast(tot))
      .withColumn("share_ppm", share)
      .withColumn("b_b",
        expr(s"CAST((CAST(b2 AS DECIMAL(38,0)) * share_ppm)" +
          s" DIV 1000000 AS BIGINT)"))
      .withColumn("full_e", least(lit(EpochCap.toLong), expr("b_b div n_b")))
      .withColumn("rem",
        when(expr("b_b div n_b") >= EpochCap, 0L)
          .otherwise(expr("b_b - (b_b div n_b) * n_b")))
      .select("bucket", "n_b", "b_b", "full_e", "rem")
    val r = t16o.withColumn("pre",
      sum("n_tokens").over(Window.partitionBy("bucket")
        .orderBy(conv(substring(md5(concat(lit("p12:"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    val withQ = r.join(broadcast(q3), "bucket")
    val fulls = withQ.filter(col("full_e") >= 1)
      .select(col("doc_id"), col("bucket"),
        col("n_tokens").cast("long").as("n_tokens"),
        explode(sequence(lit(1L), col("full_e"))).as("epoch"))
    val partials = withQ.filter(coalesce(col("pre"), lit(0L)) < col("rem"))
      .select(col("doc_id"), col("bucket"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("full_e") + 1).cast("long").as("epoch"))
    fulls.union(partials).orderBy("doc_id", "epoch")
  }

  /** Dataset snapshot diff — the versioning audit every corpus release
    * ships with (p11's report card says what a snapshot IS; this says
    * what CHANGED since the last one): classify every document across
    * two snapshots as added / removed / changed / unchanged by
    * full-outer-joining on doc_id and comparing content fingerprints.
    * The "previous" snapshot is derived in-query by a deterministic
    * mutation (every 13th doc removed, every surviving 7th doc's text
    * revised, every 11th doc re-added under a shifted id — DuckDB
    * rebuilds it identically, er01's frozen-inputs discipline), so both
    * engines diff the same pair. Output is the per-status ledger: doc
    * count + an order-free id sum + an order-free content digest over
    * the CURRENT side's fingerprints (removed rows digest their old
    * content) — any misclassified, lost, or double-counted doc
    * mismatches.
    *
    * Scale shape: one md5 projection per side (map-only, fuses into
    * each snapshot's scan), ONE full outer equi join on doc_id (the
    * q28 MERGE shape — bucketed at a real deployment), a 4-group
    * rollup. Nothing all-pairs, nothing driver-side; text never
    * shuffles (fingerprints do). */
  val p13 = Q("p13_snapshot_diff",
    """WITH a AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END)
      |      AS fp
      |  FROM documents WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |    md5('new doc ' || CAST(doc_id AS VARCHAR))
      |  FROM documents WHERE doc_id % 11 = 0),
      |j AS (
      |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, a.fp AS afp,
      |    b.fp AS bfp
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
      |st AS (
      |  SELECT doc_id,
      |    CASE WHEN afp IS NULL THEN 'added'
      |         WHEN bfp IS NULL THEN 'removed'
      |         WHEN afp <> bfp THEN 'changed'
      |         ELSE 'unchanged' END AS status,
      |    coalesce(bfp, afp) AS fp
      |  FROM j)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(concat('0x', substr(fp, 1, 8)) AS BIGINT)) AS BIGINT)
      |    AS fp_checksum
      |FROM st GROUP BY status ORDER BY status""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val a = docs.select(col("doc_id"), md5(col("text")).as("afp"))
    val b = docs.where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" [rev2]"))).otherwise(col("text"))).as("bfp"))
      .union(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          md5(concat(lit("new doc "), col("doc_id").cast("string")))
            .as("bfp")))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("afp").isNull, "added")
          .when(col("bfp").isNull, "removed")
          .when(col("afp") =!= col("bfp"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("bfp"), col("afp")).as("fp"))
      .groupBy("status")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("doc_id").cast("long").as("id_sum"),
        sum(conv(substring(col("fp"), 1, 8), 16, 10).cast("long"))
          .cast("long").as("fp_checksum"))
      .orderBy("status")
  }

  /** Split-leakage audit — the INTERNAL sibling of t07/t14's external
    * benchmark decontamination (Dodge et al. 2021's C4 lesson): the
    * train/val/test split is only as honest as its near-duplicate
    * structure, because a test doc whose near-copy sits in train is a
    * leaked answer, and a random hash split (t09) scatters duplicate
    * CLUSTERS across splits by construction. The audit surfaces every
    * d03 MinHash-LSH candidate pair that CROSSES a split boundary
    * (recall-first on purpose: anything that might leak gets reviewed;
    * d02/d12's verify tiers are the precision follow-up), labelled
    * with both splits. Candidates come from d03's own `run` and the
    * oracle splices d03's verbatim shingle/band CTEs + t09's bucket
    * rule — the audit cannot drift from the dedup or the split it
    * audits. The remediation (promote whole d08 clusters into ONE
    * split) composes from the existing operators.
    *
    * Scale shape: d03's (signature pass + band equi-join) dominates
    * and is the already-audited scale design; the split labels are a
    * map-side expression joined onto the pair list (pair-list-sized,
    * ≪ corpus). */
  val p14 = Q("p14_split_leakage", {
    s"""WITH ${Dedup.shinglesSql},
       |${Dedup.lshCandSql},
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
       |      WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM documents)
       |SELECT c.i, c.j, si.split AS split_i, sj.split AS split_j
       |FROM lshcand c
       |JOIN sp si ON si.doc_id = c.i
       |JOIN sp sj ON sj.doc_id = c.j
       |WHERE si.split <> sj.split
       |ORDER BY c.i, c.j""".stripMargin
  }) { (s, d) =>
    val pairs = Dedup.d03.run(s, d) // the candidate tier, verbatim
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100
    val sp = Tables.documents(s, d)
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
    pairs
      .join(sp.select(col("doc_id").as("i"), col("split").as("split_i")), "i")
      .join(sp.select(col("doc_id").as("j"), col("split").as("split_j")), "j")
      .where(col("split_i") =!= col("split_j"))
      .select("i", "j", "split_i", "split_j")
      .orderBy("i", "j")
  }

  // ---------------------------------------------------------------- p15
  /** Filter-funnel ablation report — the per-gate accounting every
    * curation pipeline publishes next to its corpus (what fraction did
    * EACH filter remove, in sequence): three gates run as a funnel —
    * near-dup removal (t30's novelty: a doc whose every 3-shingle
    * appears elsewhere is someone's copy), a minimum length, and a
    * lexical-diversity floor — each stage reporting in/dropped/out and
    * the exact-ppm drop rate against ITS OWN input (sequential
    * semantics: a gate only sees the previous gate's survivors, so the
    * same doc is never double-charged).
    *
    * The scale point: the funnel is sequential SEMANTICALLY but costs
    * ONE fused pass — per-doc gate flags come from one enrichment
    * (novelty join + token stats), and all six funnel counts are
    * conditional sums in a single aggregation (q55's fused-rule-book
    * shape) — stages add `when` expressions, never scans. The report is
    * 3 rows; gates and thresholds are the config surface. */
  val p15 = Q("p15_filter_funnel",
    """WITH shingles AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
      |           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |    WHERE len(w) >= 3)),
      |df AS (SELECT s, count(*) AS df FROM shingles GROUP BY s),
      |nov AS (
      |  SELECT sh.doc_id,
      |    sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS n_unique
      |  FROM shingles sh JOIN df ON df.s = sh.s GROUP BY sh.doc_id),
      |flags AS (
      |  SELECT d.doc_id,
      |    CASE WHEN coalesce(nov.n_unique, 0) = 0 THEN 1 ELSE 0 END AS dup,
      |    CASE WHEN len(string_split(d.text, ' ')) < 60 THEN 1 ELSE 0 END
      |      AS short,
      |    CASE WHEN CAST(len(list_distinct(string_split(d.text, ' ')))
      |           AS DOUBLE) / len(string_split(d.text, ' ')) < 0.36
      |         THEN 1 ELSE 0 END AS lowdiv
      |  FROM documents d LEFT JOIN nov ON nov.doc_id = d.doc_id),
      |agg AS (
      |  SELECT count(*) AS n0, sum(dup) AS d1,
      |    sum(CASE WHEN dup = 0 AND short = 1 THEN 1 ELSE 0 END) AS d2,
      |    sum(CASE WHEN dup = 0 AND short = 0 AND lowdiv = 1
      |             THEN 1 ELSE 0 END) AS d3
      |  FROM flags)
      |SELECT * FROM (
      |  SELECT 1 AS stage_no, 'near_dup' AS stage, CAST(n0 AS BIGINT) AS n_in,
      |    CAST(d1 AS BIGINT) AS n_dropped, CAST(n0 - d1 AS BIGINT) AS n_out,
      |    CAST(CASE WHEN n0 = 0 THEN 0
      |              ELSE d1 * 1000000 // n0 END AS BIGINT) AS drop_ppm
      |  FROM agg
      |  UNION ALL
      |  SELECT 2, 'min_length', CAST(n0 - d1 AS BIGINT), CAST(d2 AS BIGINT),
      |    CAST(n0 - d1 - d2 AS BIGINT),
      |    CAST(CASE WHEN n0 - d1 = 0 THEN 0
      |              ELSE d2 * 1000000 // (n0 - d1) END AS BIGINT) FROM agg
      |  UNION ALL
      |  SELECT 3, 'diversity', CAST(n0 - d1 - d2 AS BIGINT),
      |    CAST(d3 AS BIGINT), CAST(n0 - d1 - d2 - d3 AS BIGINT),
      |    CAST(CASE WHEN n0 - d1 - d2 = 0 THEN 0
      |              ELSE d3 * 1000000 // (n0 - d1 - d2) END AS BIGINT)
      |  FROM agg)
      |ORDER BY stage_no""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
    val dfc = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val nov = sh.join(dfc, "s").groupBy("doc_id")
      .agg(sum(when(col("df") === 1, 1).otherwise(0)).as("n_unique"))
    val flags = Tables.documents(s, d).select("doc_id", "text")
      .join(nov, Seq("doc_id"), "left")
      .select(
        when(coalesce(col("n_unique"), lit(0L)) === 0, 1).otherwise(0)
          .as("dup"),
        when(size(split(col("text"), " ")) < 60, 1).otherwise(0).as("short"),
        when(expr("""CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)
          | / size(split(text, ' '))""".stripMargin.replace("\n", " "))
          < 0.36, 1).otherwise(0).as("lowdiv"))
    val agg0 = flags.agg(count(lit(1)).as("n0"), sum("dup").as("d1"),
      sum(when(col("dup") === 0 && col("short") === 1, 1).otherwise(0))
        .as("d2"),
      sum(when(col("dup") === 0 && col("short") === 0 &&
        col("lowdiv") === 1, 1).otherwise(0)).as("d3"))
    agg0.select(explode(expr(
      """array(
        |named_struct('stage_no', 1, 'stage', 'near_dup',
        |  'n_in', CAST(n0 AS BIGINT), 'n_dropped', CAST(d1 AS BIGINT),
        |  'n_out', CAST(n0 - d1 AS BIGINT),
        |  'drop_ppm', CAST(CASE WHEN n0 = 0 THEN 0
        |    ELSE d1 * 1000000 DIV n0 END AS BIGINT)),
        |named_struct('stage_no', 2, 'stage', 'min_length',
        |  'n_in', CAST(n0 - d1 AS BIGINT), 'n_dropped', CAST(d2 AS BIGINT),
        |  'n_out', CAST(n0 - d1 - d2 AS BIGINT),
        |  'drop_ppm', CAST(CASE WHEN n0 - d1 = 0 THEN 0
        |    ELSE d2 * 1000000 DIV (n0 - d1) END AS BIGINT)),
        |named_struct('stage_no', 3, 'stage', 'diversity',
        |  'n_in', CAST(n0 - d1 - d2 AS BIGINT),
        |  'n_dropped', CAST(d3 AS BIGINT),
        |  'n_out', CAST(n0 - d1 - d2 - d3 AS BIGINT),
        |  'drop_ppm', CAST(CASE WHEN n0 - d1 - d2 = 0 THEN 0
        |    ELSE d3 * 1000000 DIV (n0 - d1 - d2) END AS BIGINT)))"""
        .stripMargin.replace("\n", " "))).as("r"))
      .select("r.stage_no", "r.stage", "r.n_in", "r.n_dropped", "r.n_out",
        "r.drop_ppm")
      .orderBy("stage_no")
  }

  // ---------------------------------------------------------------- p16
  /** Sub-buckets per source stratum for [[p16]] — bounds every cumsum
    * window to ~1/B of a stratum (the parallelism knob). */
  val PpsBuckets = 4L

  /** Selection points per (source, bucket) stratum for [[p16]]. */
  val PpsQuota = 2L

  /** Systematic probability-proportional-to-size sampling (Madow 1949)
    * — the sampling discipline the p03/p06/p09/p10 family lacks:
    * inclusion probability proportional to an integer SIZE weight
    * (n_chars — the "sample big docs more" a token-budgeted corpus
    * build wants), via equally-spaced selection points walked over a
    * per-stratum cumulative-weight line. Fully deterministic: the
    * anchor is the midpoint `step DIV 2` (no RNG), the walk order is a
    * salted md5 over doc_id (decorrelated from ingest order), and every
    * quantity is exact integer arithmetic (positive operands, so Spark
    * `DIV` == DuckDB `//` — the q51 agreement). A doc heavier than the
    * step distance legitimately absorbs ≥ 2 selection points
    * (`times_selected` is the importance multiplicity, the PPS analogue
    * of sampling with replacement).
    *
    * Scale design: strata are (source, hash-sub-bucket) with
    * [[PpsBuckets]] buckets, so no cumsum window ever sees more than
    * ~1/B of one source — the stratified-systematic composition that
    * keeps the prefix-sum parallel at 100 TB (a corpus-global cumsum is
    * the n02 ban; even a per-source window would single-task a 10 TB
    * stratum). One keyed window + one keyed total agg + a stratum-keyed
    * join: every shuffle is on (source, bucket). Per stratum the sample
    * count is exactly `⌈(W − strt) / step⌉` — spec-pinned, so quota
    * accounting is closed-form, not approximate. */
  val p16 = Q("p16_pps_sample",
    s"""WITH docs AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(concat('0x', substr(md5('p16:' || CAST(doc_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) AS h
       |  FROM documents),
       |b AS (SELECT doc_id, source, n_chars, h, h % $PpsBuckets AS bucket
       |      FROM docs),
       |c AS (
       |  SELECT *,
       |    sum(n_chars) OVER (PARTITION BY source, bucket
       |      ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(n_chars) OVER (PARTITION BY source, bucket) AS wtot
       |  FROM b),
       |p AS (
       |  SELECT *, greatest(wtot // $PpsQuota, 1) AS step FROM c),
       |q AS (
       |  SELECT *, step // 2 AS strt, cum - n_chars AS prev FROM p),
       |sel AS (
       |  SELECT source, CAST(bucket AS BIGINT) AS bucket, doc_id,
       |    CAST(n_chars AS BIGINT) AS weight,
       |    CAST((CASE WHEN cum <= strt THEN 0
       |               ELSE (cum - strt - 1) // step + 1 END)
       |       - (CASE WHEN prev <= strt THEN 0
       |               ELSE (prev - strt - 1) // step + 1 END)
       |         AS BIGINT) AS times_selected
       |  FROM q)
       |SELECT * FROM sel WHERE times_selected > 0
       |ORDER BY source, bucket, doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat(lit("p16:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), h.as("h"))
      .withColumn("bucket", pmod(col("h"), lit(PpsBuckets)))
    val w = Window.partitionBy("source", "bucket").orderBy("h", "doc_id")
    val cum = docs.withColumn("cum", sum("n_chars").over(w))
    val tot = docs.groupBy("source", "bucket")
      .agg(sum("n_chars").as("wtot"))
    // cnt(x) = selection points strictly below x on the cumsum line
    def cnt(x: String) = expr(
      s"CASE WHEN $x <= strt THEN 0 ELSE ($x - strt - 1) DIV step + 1 END")
    cum.join(tot, Seq("source", "bucket"))
      .withColumn("step", greatest(expr(s"wtot DIV $PpsQuota"), lit(1L)))
      .withColumn("strt", expr("step DIV 2"))
      .withColumn("prev", col("cum") - col("n_chars"))
      .withColumn("times_selected", (cnt("cum") - cnt("prev")).cast("long"))
      .filter(col("times_selected") > 0)
      .select(col("source"), col("bucket").cast("long").as("bucket"),
        col("doc_id"), col("n_chars").cast("long").as("weight"),
        col("times_selected"))
      .orderBy("source", "bucket", "doc_id")
  }

  // ---------------------------------------------------------------- p17
  /** Inter-source contamination matrix — p14's split-leakage audit
    * turned sideways: not train-vs-eval but SOURCE-vs-SOURCE, the
    * question a mixture designer (p04/p05/p10) must answer before
    * treating sources as independent — which pairs share content, and
    * how far beyond the background? Per source pair: shared distinct
    * 3-gram shingles, containment of each side in ppm (overlap ÷ that
    * side's shingle vocabulary — asymmetric by design: a small source
    * swallowed by a big one shows high containment on ITS side), and
    * an `elevated` flag = overlap ≥ 2× the matrix's lower-median (the
    * data-derived background level — the er04/d20 measured-threshold
    * discipline; on this corpus background ≈ 60 shared shingles, the
    * cross-source near-dup pairs sit at 2–3.5×). Dataflow: ONE
    * distinct (source, shingle) pass (the only corpus-scale stage),
    * then the shingle-keyed inverted index fans out pairs with
    * per-shingle fan-out ≤ |sources| (a DIMENSION, dozens at 100 TB —
    * the pair table is output-sized by construction); the median runs
    * over the |sources|²-row matrix (tiny — the q02/t32 window
    * exception). */
  val p17 = Q("p17_source_contamination",
    """WITH w AS (
      |  SELECT source, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT source,
      |    unnest(list_transform(generate_series(1, len(w) - 2),
      |      i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS s
      |  FROM w WHERE len(w) >= 3),
      |vocab AS (SELECT source, count(*) AS v FROM sh GROUP BY source),
      |ov AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS overlap
      |  FROM sh a JOIN sh b ON b.s = a.s AND a.source < b.source
      |  GROUP BY a.source, b.source),
      |med AS (
      |  SELECT overlap AS m FROM (
      |    SELECT overlap, row_number() OVER (ORDER BY overlap, src_a,
      |      src_b) AS rn, count(*) OVER () AS n
      |    FROM ov) z
      |  WHERE rn = (n + 1) // 2)
      |SELECT ov.src_a, ov.src_b, CAST(ov.overlap AS BIGINT) AS overlap,
      |  CAST(ov.overlap * 1000000 // va.v AS BIGINT) AS contain_a_ppm,
      |  CAST(ov.overlap * 1000000 // vb.v AS BIGINT) AS contain_b_ppm,
      |  ov.overlap >= 2 * med.m AS elevated
      |FROM ov
      |JOIN vocab va ON va.source = ov.src_a
      |JOIN vocab vb ON vb.source = ov.src_b
      |CROSS JOIN med
      |ORDER BY ov.src_a, ov.src_b""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val sh = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr("word_shingles(w, 3)")).as("s"))
      .distinct()
      .localCheckpoint() // one corpus pass; vocab + both join sides
    val vocab = sh.groupBy("source").agg(count(lit(1)).as("v"))
    val ov = sh.select(col("source").as("src_a"), col("s"))
      .join(sh.select(col("source").as("src_b"), col("s")), "s")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("overlap"))
      .localCheckpoint() // |sources|² rows; median + output read it
    val med = ov
      .withColumn("rn", row_number().over(
        Window.orderBy("overlap", "src_a", "src_b")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("overlap").as("m"))
    ov
      .join(broadcast(vocab.select(col("source").as("src_a"),
        col("v").as("va"))), "src_a")
      .join(broadcast(vocab.select(col("source").as("src_b"),
        col("v").as("vb"))), "src_b")
      .crossJoin(broadcast(med))
      .select(col("src_a"), col("src_b"),
        col("overlap").cast("long").as("overlap"),
        expr("overlap * 1000000 DIV va").cast("long").as("contain_a_ppm"),
        expr("overlap * 1000000 DIV vb").cast("long").as("contain_b_ppm"),
        (col("overlap") >= lit(2) * col("m")).as("elevated"))
      .orderBy("src_a", "src_b")
  }

  // ---------------------------------------------------------------- p18
  /** The END-TO-END curation pipeline as ONE query (r9 verdict ask #3) —
    * the integration the catalog previously stated only piecewise:
    * t15 Gopher quality gates → d09 simhash near-dup removal (banded
    * production tier) → t14 bloom decontamination → p04 token-budget
    * mix → p02 sequence packing, emitting the CURATED CORPUS (doc_id,
    * source, shard, bin, n_tokens), not just accounting (p15's funnel
    * reports; this op ships the corpus).
    *
    * Single-scan discipline (PlanAuditSpec pins it): every per-doc
    * enrichment the cascade needs — token array, the five Gopher gate
    * counts, the simhash fingerprint, the token count — is computed in
    * ONE projection pass over documents and checkpointed; every stage
    * below reads that artifact. No stage rescans the parquet, and the
    * three expensive intermediates (near-dup drop set, contamination
    * set, mix selection) are checkpointed at their natural small sizes
    * so no cascade prefix ever re-executes.
    *
    * Stage semantics (each the oracled op's own fragment, spliced):
    *  - gate: [[TextAnalysis.gopherKeepCol]] ≡ t15's `keep`;
    *  - near-dup: drop any gated doc with a smaller-id gated doc at
    *    simhash Hamming ≤ 3. Candidates come from d09's 16-bit-block
    *    pigeonhole equi-join, which provably covers every Hamming ≤ 3
    *    pair (4 blocks, ≤ 3 differing bits → some block equal), so the
    *    banded drop set EQUALS the oracle's all-pairs drop set;
    *  - decontamination: t14's production tier — eval (full-corpus
    *    `doc_id % 10 = 0`) 8-shingles fold into a bloom probed inside
    *    the scan, exact confirm join restores exactness; eval docs
    *    themselves leave the corpus here too;
    *  - mix/pack: [[budgetMix]] → [[packSequences]], p05's shapes.
    *
    * 100 TB: one corpus scan + persisted projection; simhash self-join
    * is 4 rows/doc equi-keyed; bloom sheds clean shingles map-side;
    * mix/pack windows are source-/shard-partitioned — nothing global,
    * nothing quadratic, no driver-side row data beyond the bloom words
    * (O(bits/64)) and the artifact-sized stage counts. */
  /** p18's full CTE chain (gate → near-dup → decontaminate → mix →
    * pack), ending in `pc`/`msel` — shared with [[p19]]'s release card
    * so the card accounts the SAME corpus the pipeline emits. */
  private def p18CtesSql: String =
    s"""${TextAnalysis.gopherStatsCteSql("documents")},
       |gated AS (
       |  SELECT d.doc_id, d.source, d.text
       |  FROM documents d JOIN gm USING (doc_id)
       |  WHERE ${TextAnalysis.gopherKeepPredSql("gm.")}),
       |${Dedup.simhashSqlFor("gated", "g")},
       |gdrop AS (
       |  SELECT DISTINCT b.doc_id FROM gfp a JOIN gfp b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.h, b.h)) <= 3),
       |deduped AS (
       |  SELECT g.doc_id, g.source, g.text FROM gated g
       |  WHERE g.doc_id NOT IN (SELECT doc_id FROM gdrop)),
       |${TextAnalysis.sh8Sql("documents")},
       |ev AS (SELECT DISTINCT s FROM sh8 WHERE doc_id % 10 = 0),
       |contam AS (
       |  SELECT DISTINCT sh8.doc_id FROM sh8 JOIN ev USING (s)
       |  WHERE doc_id % 10 <> 0),
       |clean AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
       |  FROM deduped
       |  WHERE doc_id % 10 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |${mixCtes("clean")},
       |${packCtes("msel")},
       |curated AS (
       |  SELECT p.doc_id, m.source, p.shard,
       |    CAST(p.cum // $PackBudget AS BIGINT) AS bin,
       |    CAST(p.n_tokens AS BIGINT) AS n_tokens
       |  FROM pc p JOIN msel m ON m.doc_id = p.doc_id)""".stripMargin

  val p18 = Q("p18_curation_pipeline",
    s"""WITH $p18CtesSql
       |SELECT doc_id, source, shard, bin, n_tokens
       |FROM curated ORDER BY doc_id""".stripMargin) { (s, d) =>
    curatedCorpus(s, d).orderBy("doc_id")
  }

  /** p18's dataflow, unsorted — shared by [[p18]] and [[p19]]. */
  private def curatedCorpus(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan: stats + fingerprint + token array in a single
    // projection, checkpointed — the cascade's sole parquet read
    val corpus = TextAnalysis.gopherStats(Tables.documents(s, d),
      "source" -> col("source"),
      "w" -> split(col("text"), " "),
      "h" -> Dedup.simhashCol(s))
      .localCheckpoint()
    val gated = corpus.filter(TextAnalysis.gopherKeepCol)
    // near-dup drop set: d09's pigeonhole candidates + exact verifier
    val keyed = Dedup.simhash16Keys(gated.select(col("doc_id"), col("h")))
    val drops = keyed.as("a").join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(expr("bit_count(a.h ^ b.h)") <= 3)
      .select(col("b.doc_id").as("doc_id")).distinct()
      .localCheckpoint() // dup-set-sized
    val deduped = gated.join(drops, Seq("doc_id"), "left_anti")
    // decontamination: bloom prefilter (t14's tier) + exact confirm
    val evalSh = corpus.filter(col("doc_id") % 10 === 0)
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr("word_shingles(w, 8)")).as("s"))
      .select("s").distinct()
      .localCheckpoint() // feeds count, bloom build, AND confirm join
    val bits = TextAnalysis.bloomFor(evalSh)
    val contam = deduped.filter(col("doc_id") % 10 =!= 0)
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr("word_shingles(w, 8)")).as("s"))
      .distinct()
      .filter(TextAnalysis.bloomHit(bits, col("s")))
      .join(broadcast(evalSh), "s")
      .select("doc_id").distinct()
      .localCheckpoint() // contaminated-set-sized
    val clean = deduped.filter(col("doc_id") % 10 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_words").as("n_tokens"))
    val mixed = budgetMix(clean)
      .localCheckpoint() // budget-bounded; feeds packing AND the rejoin
    val packed = packSequences(mixed.select("doc_id", "n_tokens"))
    packed.join(mixed.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("shard"), col("bin"),
        col("n_tokens"))
  }

  // ---------------------------------------------------------------- p19
  /** Release card for the [[p18]] corpus — the per-source manifest a
    * curated dataset ships with (the p11 report-card discipline applied
    * to the PIPELINE OUTPUT, not the raw corpus): per source, curated
    * docs, tokens, packed-bin spread, and exact token-share ppm of the
    * release. The oracle splices p18's ENTIRE CTE chain and aggregates
    * its `curated` CTE, so the card can never describe a different
    * corpus than the pipeline emits (the zero-drift composition rule);
    * the Spark side folds the same [[curatedCorpus]] frame. Cost past
    * p18 itself: one sources-sized agg + a 1-row broadcast total. */
  val p19 = Q("p19_corpus_card",
    s"""WITH $p18CtesSql,
       |card AS (
       |  SELECT source, count(*) AS n_docs, sum(n_tokens) AS n_tokens,
       |    count(DISTINCT (shard, bin)) AS n_bins
       |  FROM curated GROUP BY source),
       |tot AS (SELECT sum(n_tokens) AS t FROM card)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_bins AS BIGINT) AS n_bins,
       |  CAST(n_tokens * 1000000 // t AS BIGINT) AS token_share_ppm
       |FROM card CROSS JOIN tot
       |ORDER BY source""".stripMargin) { (s, d) =>
    val card = curatedCorpus(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        countDistinct(col("shard"), col("bin")).as("n_bins"))
      .localCheckpoint() // sources-sized; read by the total AND the card
    val tot = card.agg(sum("n_tokens").as("t"))
    card.crossJoin(broadcast(tot))
      .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(n_bins AS BIGINT) AS n_bins",
        "CAST(n_tokens * 1000000 DIV t AS BIGINT) AS token_share_ppm")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- p20
  /** Per-process scratch base for p20's staging/published release dirs. */
  private lazy val releaseScratch: String =
    graft.GraftSession.scratchDir("release")

  /** Curated-release PUBLISH (r10 verdict ask #2) — the one command from
    * raw documents to an atomically-published, audited, carded corpus
    * release, chaining the three pieces the catalog held separately:
    * [[p18]] EMITS the curated corpus, in15's write-audit-publish gate
    * DECIDES whether those staged bytes ship, and [[p19]]'s release
    * card — extended with a per-source content checksum — is written as
    * the COMMIT MANIFEST the atomic move publishes alongside.
    *
    * Protocol (in15's, with a corpus rule book instead of lineitem's):
    *  1. the p18 cascade writes the curated corpus to an isolated
    *     STAGING dir;
    *  2. the audit runs against the STAGED BYTES (what a reader would
    *     see): non-empty; doc_id non-null AND unique; every n_tokens
    *     > 0; NO eval-split doc (doc_id % 10 = 0 — the decontamination
    *     invariant p18 promises); referential integrity — every staged
    *     doc_id exists in the source documents table;
    *  3. a green batch gets its release card computed FROM THE STAGED
    *     BYTES, the card + file list + row count written as MANIFEST,
    *     then ONE ATOMIC_MOVE into published — readers see nothing or
    *     a complete, carded release;
    *  4. the REFUSAL leg: a poisoned batch (forged doc_ids landing in
    *     the eval split — the exact leak the decontamination stage
    *     exists to prevent) stages, trips the audit, is refused:
    *     published stays byte-identical, the bad staging is retained
    *     for forensics (`require`s pin all of it);
    *  5. the emitted card is recomputed from the PUBLISHED bytes and
    *     `require`d row-for-row equal to the MANIFEST card — the card
    *     can never describe a different corpus than was published.
    *
    * The oracle splices p18's ENTIRE CTE chain (the p19 zero-drift
    * rule) and states the card off the SOURCE table — publish must be
    * content-invariant end-to-end. 100 TB: the cascade is p18's
    * (one corpus scan); the audit is ONE pass over staged bytes plus a
    * doc_id-only anti-join; the card is a sources-sized agg; the
    * publish is a metadata move — nothing rewrites data. */
  val p20 = Q("p20_curated_release",
    s"""WITH $p18CtesSql,
       |card AS (
       |  SELECT source, count(*) AS n_docs, sum(n_tokens) AS n_tokens,
       |    count(DISTINCT (shard, bin)) AS n_bins,
       |    CAST(sum(CAST(concat('0x', substr(md5(
       |      CAST(doc_id AS VARCHAR) || '|' || CAST(shard AS VARCHAR) ||
       |      '|' || CAST(bin AS VARCHAR) || '|' ||
       |      CAST(n_tokens AS VARCHAR)), 1, 8)) AS BIGINT))
       |      % 4294967296 AS BIGINT) AS checksum
       |  FROM curated GROUP BY source),
       |tot AS (SELECT sum(n_tokens) AS t FROM card)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_bins AS BIGINT) AS n_bins,
       |  CAST(n_tokens * 1000000 // t AS BIGINT) AS token_share_ppm,
       |  CAST(checksum AS BIGINT) AS checksum
       |FROM card CROSS JOIN tot
       |ORDER BY source""".stripMargin) { (s, d) =>
    curatedRelease(s, d, _.localCheckpoint())
  }

  /** [[p20]]'s body. `pinCard` materializes the sources-sized card
    * aggregate that the token total and the card both read. p20
    * checkpoints it: unpinned, the two reads share no exchange and the
    * aggregate runs twice (72 jobs against 69 at sf0.01). `PlanAuditSpec`
    * passes `identity` so that the shipped card's plan shows the scans
    * it is computed from (over the checkpoint the plan reads
    * ExistingRDD, and a scan audit is vacuous). */
  private[graft] def curatedRelease(s: SparkSession, d: String,
      pinCard: DataFrame => DataFrame): DataFrame = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val base = s"$releaseScratch/$run"
    val staging = s"$base/staging/release"
    val published = s"$base/published/release"
    def cardOf(df: DataFrame): DataFrame = {
      // checksum accumulates in DECIMAL(38,0), reduced mod 2^32 (r11
      // ADVICE): each term is a 32-bit md5 prefix (≤ 0xFFFFFFFF), so a
      // LONG sum wraps silently in Spark past ~2e9 docs/source while
      // DuckDB sums to HUGEINT and raises on the BIGINT cast — the two
      // engines would disagree exactly when the card matters most. The
      // decimal accumulator is exact to 10^38 (≈2.3e28 docs/source);
      // the g16-style in-op guard below turns the far-side overflow
      // (Spark yields NULL under non-ANSI) into a loud failure instead
      // of a silently-null manifest line.
      val card = pinCard(df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          countDistinct(col("shard"), col("bin")).as("n_bins"),
          (sum(conv(substring(md5(concat(
            col("doc_id").cast("string"), lit("|"),
            col("shard").cast("string"), lit("|"),
            col("bin").cast("string"), lit("|"),
            col("n_tokens").cast("string"))), 1, 8), 16, 10)
            .cast("decimal(38,0)")) % lit(4294967296L))
            .cast("long").as("checksum")))
      // r16: the overflow guard is an in-plan raise_error on the
      // checksum projection — same loud failure, zero extra jobs (the
      // former where(isNull).count() was one driver action per card)
      val tot = card.agg(sum("n_tokens").as("t"))
      card.crossJoin(broadcast(tot))
        .withColumn("checksum", when(col("checksum").isNull, raise_error(
          lit("p20: checksum DECIMAL(38,0) accumulator overflowed (null sum)")))
          .otherwise(col("checksum")))
        .selectExpr("source", "CAST(n_docs AS BIGINT) AS n_docs",
          "CAST(n_tokens AS BIGINT) AS n_tokens",
          "CAST(n_bins AS BIGINT) AS n_bins",
          "CAST(n_tokens * 1000000 DIV t AS BIGINT) AS token_share_ppm",
          "CAST(checksum AS BIGINT) AS checksum")
        .orderBy("source")
    }
    def cardLines(df: DataFrame): Seq[String] =
      cardOf(df).collect().toSeq.map(r =>
        (0 until 6).map(r.get(_).toString).mkString("|"))
    // r16: one action per audit — the rule-book agg and the orphan
    // count cross-join into a single 1-row plan (they were two driver
    // actions, i.e. two full passes over the staged bytes); the row
    // count rides along so the manifest needs no third scan
    def audit(dir: String): (Boolean, Long) = {
      val staged = s.read.parquet(dir)
      val gates = staged.agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id").isNull, 1).otherwise(0)).as("null_ids"),
        countDistinct(col("doc_id")).as("n_ids"),
        sum(when(col("n_tokens") <= 0, 1).otherwise(0)).as("bad_tokens"),
        sum(when(col("doc_id") % 10 === 0, 1).otherwise(0)).as("eval_leaks"))
      val orphans = staged.select(col("doc_id")).na.drop().distinct()
        .join(Tables.documents(s, d).select(col("doc_id")), Seq("doc_id"),
          "left_anti")
        .agg(count(lit(1)).as("orphans"))
      val g = gates.crossJoin(orphans).head()
      (g.getLong(0) > 0 && g.getLong(1) == 0 && g.getLong(2) == g.getLong(0) &&
        g.getLong(3) == 0 && g.getLong(4) == 0 && g.getLong(5) == 0,
        g.getLong(0))
    }
    // 1. the p18 cascade stages the curated corpus
    curatedCorpus(s, d).write.parquet(staging)
    // 2.-3. audit the staged bytes; green -> card as commit manifest,
    // ONE atomic move
    val (auditOk, nRows) = audit(staging)
    require(auditOk, "p20: the curated batch must audit green")
    val manifestCard = cardLines(s.read.parquet(staging))
    val files = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    new java.io.File(published).getParentFile.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/published/MANIFEST"),
      s"files=${files.mkString(",")}\nrows=$nRows\n" +
        manifestCard.mkString("card=", "\ncard=", "\n"))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(published),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val pubFiles = new java.io.File(published).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified(), f.length())).toSet
    // 4. refusal leg: forged eval-split doc_ids must be refused and
    // leave published byte-identical, staging retained for forensics
    val poisoned = s.read.parquet(published).limit(20)
      .withColumn("doc_id", col("doc_id") * 10)
    val badStage = s"$base/staging/poisoned"
    poisoned.write.parquet(badStage)
    require(!audit(badStage)._1, "p20: the eval-leak batch must be refused")
    require(new java.io.File(badStage).exists(),
      "p20: refused staging must be retained for quarantine")
    require(new java.io.File(published).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet == pubFiles,
      "p20: published bytes changed by a refused batch")
    // 5. the shipped card: recomputed from PUBLISHED bytes, pinned to
    // the commit manifest row-for-row
    val shipped = cardOf(s.read.parquet(published))
    require(shipped.collect().toSeq.map(r =>
        (0 until 6).map(r.get(_).toString).mkString("|")) == manifestCard,
      "p20: the published card drifted from the commit manifest")
    shipped
  }

  def all: Seq[Q] = Seq(p01, p02, p03, p04, p05, p06, p07, p08, p09, p10, p11,
    p12, p13, p14, p15, p16, p17, p18, p19, p20)
}
