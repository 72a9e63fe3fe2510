package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Entity resolution / record linkage — the pipeline that precedes every
  * dedup cascade when records have FIELDS rather than one text body:
  * derive candidate pairs by blocking, score them field-by-field
  * (Fellegi–Sunter agreement weights), and threshold into links.
  *
  * The dirty registry is DERIVED deterministically from `customer` with
  * md5-seeded perturbations (one-character name deletion for every
  * record; balance drift for the `custkey % 15` "heavy" cohort), so
  * DuckDB rebuilds the identical registry and the whole pipeline —
  * perturbation, blocking, scoring, threshold — oracles exactly, the
  * ml04 frozen-inputs discipline without needing committed fixtures.
  *
  * Scale design: candidate generation is an equi JOIN on the block key
  * (nationkey, mktsegment) — never an all-pairs comparison. Pair count
  * is Σ_blocks |A_b|·|B_b| (≈ |A|·|B| / #blocks under uniform keys;
  * `EntityResolutionSpec` pins the measured bound), and the expensive
  * comparator (banded edit distance, [[graft.functions.EditDistance]])
  * runs only inside blocks. Blocked fields carry no score weight — they
  * are equal by construction (the Fellegi–Sunter rule); the weights ride
  * on acctbal cents (+24) and the name-edit gradient (12 − 4·min(ed,3)),
  * so the 28 threshold separates true links (32) from best wrong-pair
  * scores (≤ 4 + impossible-24) with a wide margin.
  */
object EntityResolution {

  /** md5-derived deletion seed, per engine (same hex, same value). */
  private val HSpark = "CAST(conv(substr(md5(c_name), 1, 8), 16, 10) AS BIGINT)"
  private val HDuck =
    "CAST(concat('0x', substr(md5(c_name), 1, 8)) AS BIGINT)"

  /** Shared perturbation fragments (identical text in both engines —
    * the zero-drift convention): one-char deletion at the seeded
    * position, heavy-cohort balance drift. */
  private val PosSql = "1 + (h % length(c_name))"
  private val NameDelSql =
    "concat(substr(c_name, 1, pos - 1), substr(c_name, pos + 1))"
  private val AcctSql =
    "CASE WHEN c_custkey % 15 = 0 THEN c_acctbal + 17.29 ELSE c_acctbal END"
  private val ScoreSql =
    """CASE WHEN round(acct_b * 100) = round(c_acctbal * 100)
      |     THEN 24 ELSE 0 END
      |  + greatest(0, 12 - 4 * ed""".stripMargin + ")"

  /** The dirty registry (Spark side): every third customer, re-keyed,
    * name-deleted, heavy cohort balance-drifted. */
  private[graft] def registry(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter("c_custkey % 3 = 0")
      .selectExpr("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment", s"$HSpark AS h")
      .selectExpr("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment", s"$PosSql AS pos")
      .selectExpr("c_custkey + 10000000 AS b_id",
        s"$NameDelSql AS name_b", s"$AcctSql AS acct_b",
        "c_nationkey AS nat_b", "c_mktsegment AS seg_b")

  /** Widen a join INPUT to shuffle-partition width (№20 v2 rule): the
    * r13 fix placed the exchange AFTER the blocked join, which widened
    * the comparator but left the join stage itself — and the shuffle
    * WRITE of every candidate-pair row, name strings included — on the
    * probe scan's single split (observed at 16×: one task 37+ min into
    * writing ~1.5×10⁸ joined rows while 31 cores idled). Exchanging
    * the INPUTS instead costs two shuffles of ≤|table| skinny rows and
    * the join, comparator, score filter and aggregation all fuse into
    * one full-width stage: nothing pair-sized ever crosses a shuffle.
    * BOTH sides are widened so the width holds whichever side the
    * planner chooses to broadcast. SMJ caveat: if NEITHER side
    * broadcasts (estate scale / autoBroadcastJoinThreshold=-1), Spark
    * inserts fresh exchanges on the (nation, segment) block keys —
    * ~125 distinct values — and the comparator collapses to block-key
    * width with per-block skew; the input exchanges become dead
    * weight. That regime is audited, not assumed:
    * `ParallelismAuditSpec` pins the non-broadcast plan shape under
    * autoBroadcastJoinThreshold=-1. At true estate scale the fix is a
    * higher-cardinality block key (linksProd's (nation, segment,
    * cents) is already near-singleton), not a wider exchange on a
    * 125-value key. */
  private def widen(s: SparkSession, df: DataFrame,
      key: String): DataFrame =
    df.repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** ALL scored candidate pairs (b_id, a_custkey, score) off the
    * validation blocking — er04 reads the full score distribution;
    * [[links]] is the ≥ 28 auto-link slice.
    *
    * The join INPUTS are explicitly widened ([[widen]], the №20 v2
    * rule): without exchanges, the blocked join broadcasts one side
    * and inherits the other's single compact-file split — ~10⁸ banded
    * edit distances (r13 finding) AND, with the r13 post-join exchange,
    * the single-task shuffle write of every joined row (r14 finding) —
    * so the width is fixed BEFORE the join and nothing pair-sized ever
    * crosses a shuffle. */
  private[graft] def scoredPairs(s: SparkSession, d: String): DataFrame = {
    val cust = widen(s, Tables.customer(s, d), "c_custkey")
    widen(s, registry(s, d), "b_id")
      .join(cust, col("nat_b") === col("c_nationkey") &&
        col("seg_b") === col("c_mktsegment"))
      .selectExpr("b_id", "c_custkey", "acct_b", "c_acctbal",
        // k=3 returns min(lev, 4); least(..., 3) = the oracle's
        // least(levenshtein, 3), by the d17 bounded-distance law
        "least(bounded_edit_distance(name_b, c_name, 3), 3) AS ed")
      .selectExpr("b_id", "c_custkey AS a_custkey", s"$ScoreSql AS score")
  }

  /** er01's scored links (b_id, a_custkey, score ≥ 28). Sole consumer
    * is er01 itself — er02 consolidates off linksProd, so nothing here
    * needs (or should regain) a materialisation barrier for sharing.
    * No barrier and no checkpoint (№20 v2):
    * with the exchanges on the join INPUTS, the score filter FUSING
    * into the wide join stage is exactly what we want — the r13
    * post-join-exchange shape needed a localCheckpoint to stop
    * pushdown dragging the DP below its exchange, and that checkpoint
    * itself materialised the candidate-set-sized frame. Here nothing
    * pair-sized is ever materialised: join → comparator → filter run
    * in one full-width stage and only the ~400 links leave it. */
  private[graft] def links(s: SparkSession, d: String): DataFrame =
    scoredPairs(s, d)
      .filter(col("score") >= 28)
      .selectExpr("b_id", "a_custkey", "CAST(score AS BIGINT) AS score")

  /** Production-blocked links — THRESHOLD-AWARE blocking (the d05→d09
    * validation-vs-production pattern applied to linkage): the 28
    * threshold is unreachable without the +24 acctbal agreement (the
    * name gradient maxes at 12), so exact cents can join the block key
    * with ZERO output change — candidate generation becomes an equi
    * join on (nation, segment, cents) whose blocks are near-singleton,
    * and the Σ_blocks |A_b|·|B_b| cost stops growing quadratically with
    * corpus scale (er01's validation-tier blocks grow 16× a side →
    * 256× comparisons; these stay ~linear). The standard multi-pass
    * blocking refinement of Winkler-style production linkage, with the
    * pass set chosen from the score structure instead of heuristics.
    * `EntityResolutionSpec` pins link-for-link equality with [[links]]. */
  private[graft] def linksProd(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    registry(s, d)
      .join(cust, col("nat_b") === col("c_nationkey") &&
        col("seg_b") === col("c_mktsegment") &&
        expr("round(acct_b * 100)") === expr("round(c_acctbal * 100)"))
      .selectExpr("b_id", "c_custkey", "acct_b", "c_acctbal",
        "least(bounded_edit_distance(name_b, c_name, 3), 3) AS ed")
      .selectExpr("b_id", "c_custkey AS a_custkey", s"$ScoreSql AS score")
      .filter(col("score") >= 28)
      .selectExpr("b_id", "a_custkey", "CAST(score AS BIGINT) AS score")
  }

  /** The dirty-registry CTE on its own — er07 composes it with its
    * record-sampled join, every other oracle through [[LinksCtesSql]].
    * A named constant rather than substring surgery on the combined
    * text (r13 ADVICE): slicing by `indexOf` made any reformatting of
    * LinksCtesSql an object-initialisation crash for the whole
    * EntityResolution catalog. */
  private val BCteSql =
    s"""b AS (
      |  SELECT c_custkey + 10000000 AS b_id, $NameDelSql AS name_b,
      |         $AcctSql AS acct_b, c_nationkey AS nat_b,
      |         c_mktsegment AS seg_b
      |  FROM (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |           $PosSql AS pos
      |    FROM (
      |      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |             $HDuck AS h
      |      FROM customer WHERE c_custkey % 3 = 0)))""".stripMargin

  /** Shared oracle CTE text: the dirty registry + scored links. */
  private val LinksCtesSql =
    s"""$BCteSql,
      |scored AS (
      |  SELECT b_id, c_custkey AS a_custkey,
      |         $ScoreSql AS score
      |  FROM (
      |    SELECT b_id, c_custkey, acct_b, c_acctbal,
      |           least(levenshtein(name_b, c_name), 3) AS ed
      |    FROM b JOIN customer
      |      ON nat_b = c_nationkey AND seg_b = c_mktsegment)),
      |links AS (SELECT b_id, a_custkey, score FROM scored WHERE score >= 28)""".stripMargin

  // ---------------------------------------------------------------- er01
  val er01 = Q("er01_record_linkage",
    s"""WITH b AS (
      |  SELECT c_custkey + 10000000 AS b_id, $NameDelSql AS name_b,
      |         $AcctSql AS acct_b, c_nationkey AS nat_b,
      |         c_mktsegment AS seg_b
      |  FROM (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |           $PosSql AS pos
      |    FROM (
      |      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |             $HDuck AS h
      |      FROM customer WHERE c_custkey % 3 = 0))),
      |scored AS (
      |  SELECT b_id, c_custkey AS a_custkey,
      |         $ScoreSql AS score
      |  FROM (
      |    SELECT b_id, c_custkey, acct_b, c_acctbal,
      |           least(levenshtein(name_b, c_name), 3) AS ed
      |    FROM b JOIN customer
      |      ON nat_b = c_nationkey AND seg_b = c_mktsegment))
      |SELECT b_id, a_custkey, CAST(score AS BIGINT) AS score
      |FROM scored WHERE score >= 28
      |ORDER BY b_id, a_custkey""".stripMargin) { (s, d) =>
    links(s, d).orderBy("b_id", "a_custkey")
  }

  // ---------------------------------------------------------------- er02
  /** Golden-record consolidation — the survivorship pass that FOLLOWS
    * linkage: every master customer becomes one entity (absorbing its
    * linked registry records — name and balance survive from the master,
    * the authoritative source, since the registry copies are the
    * perturbed ones), and registry records that linked to nothing
    * surface as their own single-source entities instead of being
    * silently dropped — the completeness property a dedup-merge must
    * keep (an unmatched record is a NEW entity, not noise). Balances
    * are exact integer cents (the money discipline), provenance is
    * explicit (n_sources + origin), so the whole consolidated table
    * oracles cross-engine.
    *
    * Scale shape: link counts are one keyed agg off er01's blocked
    * equi-join links; the master enrichment is a left join against that
    * links-sized side (broadcast-eligible); orphan detection is a
    * left_anti on b_id. No all-pairs anything, nothing driver-side. */
  /** The consolidation tail as oracle SQL, over a RESOLVED links CTE
    * (b_id, a_custkey — exactly one row per b_id) named by the caller
    * plus the `b` registry CTE — er02 and er09 splice the SAME text
    * after their respective link definitions (zero drift, mirroring
    * [[consolidate]] on the Spark side). Parametrized by CTE name (r15
    * advice) so er02 can splice its own min-per-b_id resolution on top
    * of the shared raw `links` without redefining that name. */
  private def consolidationSql(links: String): String =
    s"""lc AS (SELECT a_custkey, count(*) AS n_links FROM $links GROUP BY a_custkey),
      |masters AS (
      |  SELECT c_custkey AS entity_id, c_name AS name,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents,
      |    CAST(1 + coalesce(n_links, 0) AS BIGINT) AS n_sources,
      |    CASE WHEN n_links IS NOT NULL THEN 'merged'
      |         ELSE 'master_only' END AS origin
      |  FROM customer LEFT JOIN lc ON c_custkey = a_custkey),
      |orphans AS (
      |  SELECT b_id AS entity_id, name_b AS name,
      |    CAST(round(acct_b * 100) AS BIGINT) AS acct_cents,
      |    CAST(1 AS BIGINT) AS n_sources, 'registry_only' AS origin
      |  FROM b ANTI JOIN $links USING (b_id))
      |SELECT * FROM masters
      |UNION ALL
      |SELECT * FROM orphans
      |ORDER BY entity_id""".stripMargin

  val er02 = Q("er02_golden_records",
    s"""WITH $LinksCtesSql,
      |links1 AS (
      |  SELECT b_id, min(a_custkey) AS a_custkey FROM links GROUP BY b_id),
      |${consolidationSql("links1")}""".stripMargin) { (s, d) =>
    // the production-blocked candidate pass — output-identical to the
    // er01 validation tier (spec-pinned), near-linear at corpus scale.
    // r15 advice (medium): survivorship demands each registry record merge
    // into exactly ONE golden record, and the 28 threshold does NOT
    // structurally guarantee 1:1 links (a cents collision plus an ed≤2
    // name to a WRONG customer is reachable at larger SFs — digit-
    // pattern names make it plausible) — at test SFs uniqueness held
    // only by data margin. er09's unique-assignment rule (min a_custkey
    // per b_id) is now applied HERE too, on both engine and oracle
    // sides, so Σ n_sources = |customer| + |registry| is enforced by
    // construction at every SF, not assumed.
    consolidate(s, d, resolveOnePerB(linksProd(s, d)))
  }

  /** Unique assignment — er09's survivorship precondition, shared with
    * er02: collapse a links relation to exactly one master per
    * registry record (deterministically the min a_custkey). Links are
    * answer-sized (~hundreds of rows), so the groupBy is free. */
  private def resolveOnePerB(lk: DataFrame): DataFrame =
    lk.groupBy("b_id").agg(min(col("a_custkey")).as("a_custkey"))

  /** er02's survivorship dataflow over a RESOLVED links relation
    * (b_id, a_custkey — one row per b_id; see [[resolveOnePerB]]) —
    * shared by er02 (designed-constant links) and er09 (er08's learned
    * auto_link band), so the consolidation semantics cannot drift
    * between the designed and learned seams. */
  private def consolidate(s: SparkSession, d: String,
      lk0: DataFrame): DataFrame = {
    // r16: the links relation is consumed TWICE below (master link
    // counts + the orphan anti-join), and for er09/er02 its lineage is
    // the full blocked-comparator pass — without a barrier that pass
    // ran once per consumer (WidthProbe er09: two ~23 cpu-s comparator
    // stages for one query). The checkpoint is links-sized.
    val lk = lk0.localCheckpoint()
    val lc = lk.groupBy("a_custkey").agg(count(lit(1)).as("n_links"))
    val masters = Tables.customer(s, d)
      .join(broadcast(lc), col("c_custkey") === col("a_custkey"), "left")
      .select(col("c_custkey").as("entity_id"), col("c_name").as("name"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("acct_cents"),
        (lit(1L) + coalesce(col("n_links"), lit(0L))).cast("long")
          .as("n_sources"),
        when(col("n_links").isNotNull, "merged").otherwise("master_only")
          .as("origin"))
    val orphans = registry(s, d)
      .join(lk.select("b_id"), Seq("b_id"), "left_anti")
      .select(col("b_id").as("entity_id"), col("name_b").as("name"),
        expr("CAST(round(acct_b * 100) AS BIGINT)").as("acct_cents"),
        lit(1L).as("n_sources"), lit("registry_only").as("origin"))
    masters.unionByName(orphans).orderBy("entity_id")
  }

  // ---------------------------------------------------------------- er03
  /** Blocking-quality report — the DIAGNOSTIC every production linkage
    * ships next to its blocking choice (Christen's reduction-ratio /
    * pair-completeness pair): per scheme, how many candidate pairs the
    * block join generates (reduction vs the |A|·|B| cross product, exact
    * ppm) and what fraction of ground-truth matches survive blocking —
    * overall AND restricted to LINKABLE pairs (score ≥ 28). Ground truth
    * is free here: the registry derives from customer, so the true match
    * for `b_id` is `b_id − 10⁷`.
    *
    * The numbers make the er01→er02 refinement's trade quantitative:
    * the cents pass cuts candidates by orders of magnitude and DOES drop
    * true pairs (the drifted heavy cohort — overall completeness < 10⁶
    * ppm), while its completeness on linkable pairs is exactly 10⁶ ppm —
    * the "zero output change" claim as a measured diagnostic rather
    * than a proof the reader must re-derive.
    *
    * Scale: candidate counts are COUNT aggregates over the same blocked
    * equi joins the linkage runs (no pair materialisation survives the
    * agg); the truth pass is a 1:1 key join, registry-sized; everything
    * else is 1-row frames cross-joined broadcast-style. */
  val er03 = Q("er03_blocking_quality",
    s"""WITH b AS (
      |  SELECT c_custkey + 10000000 AS b_id, $NameDelSql AS name_b,
      |         $AcctSql AS acct_b, c_nationkey AS nat_b,
      |         c_mktsegment AS seg_b
      |  FROM (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |           $PosSql AS pos
      |    FROM (
      |      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |             $HDuck AS h
      |      FROM customer WHERE c_custkey % 3 = 0))),
      |sizes AS (
      |  SELECT (SELECT count(*) FROM customer) AS na,
      |         (SELECT count(*) FROM b) AS nb),
      |c1 AS (SELECT count(*) AS cand FROM b JOIN customer
      |       ON nat_b = c_nationkey AND seg_b = c_mktsegment),
      |c2 AS (SELECT count(*) AS cand FROM b JOIN customer
      |       ON nat_b = c_nationkey AND seg_b = c_mktsegment
      |          AND round(acct_b * 100) = round(c_acctbal * 100)),
      |tp AS (
      |  SELECT nat_b = c_nationkey AND seg_b = c_mktsegment AS blk1,
      |         nat_b = c_nationkey AND seg_b = c_mktsegment
      |           AND round(acct_b * 100) = round(c_acctbal * 100) AS blk2,
      |         $ScoreSql AS score
      |  FROM (
      |    SELECT acct_b, nat_b, seg_b, c_nationkey, c_mktsegment,
      |           c_acctbal,
      |           least(levenshtein(name_b, c_name), 3) AS ed
      |    FROM b JOIN customer ON b_id - 10000000 = c_custkey)),
      |ta AS (
      |  SELECT count(*) AS n_true,
      |    count(*) FILTER (WHERE blk1) AS t1,
      |    count(*) FILTER (WHERE blk2) AS t2,
      |    count(*) FILTER (WHERE score >= 28) AS nlink,
      |    count(*) FILTER (WHERE blk1 AND score >= 28) AS l1,
      |    count(*) FILTER (WHERE blk2 AND score >= 28) AS l2
      |  FROM tp)
      |SELECT scheme, CAST(cand AS BIGINT) AS n_candidates,
      |  CAST((na * nb - cand) * 1000000 // (na * nb) AS BIGINT)
      |    AS reduction_ppm,
      |  CAST(t * 1000000 // n_true AS BIGINT) AS completeness_ppm,
      |  CAST(l * 1000000 // nlink AS BIGINT) AS linkable_completeness_ppm
      |FROM (
      |  SELECT 'nation_segment' AS scheme, c1.cand, t1 AS t, l1 AS l,
      |         na, nb, n_true, nlink
      |  FROM c1, sizes, ta
      |  UNION ALL
      |  SELECT 'nation_segment_cents', c2.cand, t2, l2, na, nb, n_true, nlink
      |  FROM c2, sizes, ta)
      |ORDER BY scheme""".stripMargin) { (s, d) =>
    val cust = Tables.customer(s, d)
    val reg = registry(s, d).localCheckpoint() // four consumers below
    val blk1 = col("nat_b") === col("c_nationkey") &&
      col("seg_b") === col("c_mktsegment")
    val blk2 = blk1 &&
      expr("round(acct_b * 100)") === expr("round(c_acctbal * 100)")
    val sizes = cust.agg(count(lit(1)).as("na"))
      .crossJoin(reg.agg(count(lit(1)).as("nb")))
    val c1 = reg.join(cust, blk1).agg(count(lit(1)).as("cand1"))
    val c2 = reg.join(cust, blk2).agg(count(lit(1)).as("cand2"))
    val ta = reg.join(cust, expr("b_id - 10000000 = c_custkey"))
      .select(blk1.as("blk1"), blk2.as("blk2"),
        expr("least(bounded_edit_distance(name_b, c_name, 3), 3)").as("ed"),
        col("acct_b"), col("c_acctbal"))
      .selectExpr("blk1", "blk2", s"$ScoreSql AS score")
      .agg(count(lit(1)).as("n_true"),
        count(when(col("blk1"), 1)).as("t1"),
        count(when(col("blk2"), 1)).as("t2"),
        count(when(col("score") >= 28, 1)).as("nlink"),
        count(when(col("blk1") && col("score") >= 28, 1)).as("l1"),
        count(when(col("blk2") && col("score") >= 28, 1)).as("l2"))
    val base = c1.crossJoin(c2).crossJoin(sizes).crossJoin(ta)
    def row(scheme: String, cand: String, t: String, l: String) =
      base.select(lit(scheme).as("scheme"),
        col(cand).cast("long").as("n_candidates"),
        expr(s"((na * nb - $cand) * 1000000) DIV (na * nb)")
          .as("reduction_ppm"),
        expr(s"($t * 1000000) DIV n_true").as("completeness_ppm"),
        expr(s"($l * 1000000) DIV nlink").as("linkable_completeness_ppm"))
    row("nation_segment", "cand1", "t1", "l1")
      .union(row("nation_segment_cents", "cand2", "t2", "l2"))
      .orderBy("scheme")
  }

  // ---------------------------------------------------------------- er04
  /** Three-band Fellegi–Sunter decision report — the piece that makes
    * the linkage model COMPLETE: F-S is defined by TWO thresholds, not
    * one (upper U → auto-link, lower L → clerical-review queue, below →
    * non-match); er01 ships only the U slice. Bands fall out of the
    * score structure: ≥ 28 is unreachable without the +24 balance
    * agreement (auto-link); [8, 28) is strong-name-evidence (ed ≤ 1)
    * with the balance DISAGREEING — exactly the drifted-cohort
    * signature a human reviews (the L threshold is read off the score
    * model, not guessed: 8 = 12 − 4·1, one edit); < 8 is
    * weak-or-no-evidence (non-match). Measured on this corpus the
    * review band holds 119 pairs, 100 of them true (840,336 ppm — the
    * 100 drifted-cohort masters plus 19 name coincidences), auto-link
    * is exactly pure, non-match holds zero truths — the textbook F-S
    * outcome, and the numbers that SIZE the clerical queue.
    * Because the registry derivation carries its own
    * ground truth (`b_id − 10⁷`), each band also reports its MEASURED
    * purity in exact ppm — the review-queue sizing and band-quality
    * numbers a production linkage publishes before choosing thresholds
    * (the er03/d20/q57 tuning-table discipline, applied to the decision
    * thresholds themselves).
    *
    * Cost: er01's blocked equi-join, then ONE map-side-combined
    * conditional agg to 3 rows — the report is free relative to the
    * scoring pass it audits. */
  val er04 = Q("er04_decision_bands",
    s"""WITH $LinksCtesSql
      |SELECT
      |  CASE WHEN score >= 28 THEN 'auto_link'
      |       WHEN score >= 8 THEN 'review'
      |       ELSE 'non_match' END AS band,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(count(DISTINCT b_id) AS BIGINT) AS n_registry,
      |  CAST(sum(CASE WHEN a_custkey = b_id - 10000000 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_true,
      |  CAST(CASE WHEN count(*) = 0 THEN 0
      |       ELSE sum(CASE WHEN a_custkey = b_id - 10000000
      |                     THEN 1 ELSE 0 END) * 1000000 // count(*) END
      |       AS BIGINT) AS true_ppm,
      |  CAST(min(score) AS BIGINT) AS min_score,
      |  CAST(max(score) AS BIGINT) AS max_score
      |FROM scored
      |GROUP BY 1
      |ORDER BY band""".stripMargin) { (s, d) =>
    scoredPairs(s, d)
      .groupBy(when(col("score") >= 28, "auto_link")
        .when(col("score") >= 8, "review")
        .otherwise("non_match").as("band"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        countDistinct("b_id").cast("long").as("n_registry"),
        sum(when(col("a_custkey") === col("b_id") - 10000000L, 1)
          .otherwise(0)).cast("long").as("n_true"),
        expr("""CAST(CASE WHEN count(1) = 0 THEN 0
          | ELSE sum(CASE WHEN a_custkey = b_id - 10000000
          |   THEN 1 ELSE 0 END) * 1000000 DIV count(1) END AS BIGINT)"""
          .stripMargin.replace("\n", " ")).as("true_ppm"),
        min("score").cast("long").as("min_score"),
        max("score").cast("long").as("max_score"))
      .orderBy("band")
  }

  // ---------------------------------------------------------------- er05
  /** Sliding-window half-width: records pair while their sort ranks
    * differ by < [[SnWindow]] within a (pass, stratum). */
  val SnWindow = 4

  /** Multi-pass sorted-neighborhood blocking (Hernández–Stolfo 1995 —
    * including their actual production recommendation, MULTIPLE passes
    * over different sort keys) — the blocking family's other canonical
    * member, for the failure equi-blocking cannot survive: an equi
    * block needs a block FIELD to be uncorrupted; sorted-neighborhood
    * only needs SOME pass's key to leave the record lexicographically
    * near its twin. Three passes: `name` (forward — catches tail
    * corruption), `rname` (reversed — catches head corruption), and
    * `cents` (zero-padded balance — field-independent of the name
    * entirely; the drifted cohort escapes it, and escapes the 28
    * threshold anyway). Measured single-pass recall on this registry
    * is ~12% — TPC-H's `Customer#000000123` names put ALL the entropy
    * in the digit block, so a single mid-digit deletion teleports the
    * record hundreds of ranks away: exactly the corpus shape
    * multi-pass SNM exists for, and the spec pins the multi-pass
    * union's recall ≥ 95% of er01's links (subset holds by the score
    * margin: wrong pairs cannot reach 28).
    *
    * Scale design: every rank is (pass, nationkey)-STRATUM-keyed (the
    * n02 rule — no corpus-global row_number; range-partitioned sort at
    * deployment), and the window join is NOT a range join: ranks
    * bucket by `rn div w`, each registry row probes its own and both
    * adjacent buckets (explode to 3 EQUI probes on (pass, nat,
    * bucket)), the rank predicate demotes to a residual filter —
    * Σ O(n·w) candidates per pass, no quadratic block anywhere.
    * Diagnostics ride along per link (the d20/q57 discipline):
    * `min_gap` (how far from its twin the match sat — the number that
    * tunes w) and `n_passes` (how many passes found it — the number
    * that justifies each pass's existence). */
  val er05 = Q("er05_sorted_neighborhood", {
    val w = SnWindow
    s"""WITH $LinksCtesSql,
      |recs AS (
      |  SELECT nat_b AS nat, name_b AS nm, 'b' AS src, b_id AS id,
      |         acct_b AS bal FROM b
      |  UNION ALL
      |  SELECT c_nationkey, c_name, 'a', c_custkey, c_acctbal
      |  FROM customer),
      |merged AS (
      |  SELECT 'name' AS pass, nat, nm AS skey, src, id, bal, nm FROM recs
      |  UNION ALL
      |  SELECT 'rname', nat, reverse(nm), src, id, bal, nm FROM recs
      |  UNION ALL
      |  SELECT 'cents', nat,
      |    lpad(CAST(CAST(round(bal * 100) + 100000 AS BIGINT) AS VARCHAR),
      |         8, '0'), src, id, bal, nm
      |  FROM recs),
      |ranked AS (
      |  SELECT pass, nat, src, id, bal, nm,
      |    row_number() OVER (PARTITION BY pass, nat
      |                       ORDER BY skey, src, id) AS rn
      |  FROM merged),
      |cand AS (
      |  SELECT rb.id AS b_id, ra.id AS a_custkey,
      |    rb.nm AS name_b, ra.nm AS c_name,
      |    rb.bal AS acct_b, ra.bal AS c_acctbal,
      |    min(abs(rb.rn - ra.rn)) AS min_gap,
      |    count(DISTINCT rb.pass) AS n_passes
      |  FROM (SELECT * FROM ranked WHERE src = 'b') rb
      |  JOIN (SELECT * FROM ranked WHERE src = 'a') ra
      |    ON ra.pass = rb.pass AND ra.nat = rb.nat
      |   AND ra.rn // $w BETWEEN rb.rn // $w - 1 AND rb.rn // $w + 1
      |   AND abs(rb.rn - ra.rn) < $w
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |snscored AS (
      |  SELECT b_id, a_custkey, $ScoreSql AS score, min_gap, n_passes
      |  FROM (
      |    SELECT b_id, a_custkey, acct_b, c_acctbal, min_gap, n_passes,
      |           least(levenshtein(name_b, c_name), 3) AS ed
      |    FROM cand))
      |SELECT b_id, a_custkey, CAST(score AS BIGINT) AS score,
      |  CAST(min_gap AS BIGINT) AS min_gap,
      |  CAST(n_passes AS BIGINT) AS n_passes
      |FROM snscored WHERE score >= 28
      |ORDER BY b_id, a_custkey""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = SnWindow
    val recs = registry(s, d)
      .selectExpr("nat_b AS nat", "name_b AS nm", "'b' AS src",
        "b_id AS id", "acct_b AS bal")
      .unionAll(Tables.customer(s, d)
        .selectExpr("c_nationkey", "c_name", "'a'", "c_custkey",
          "c_acctbal"))
    val merged = recs.selectExpr("'name' AS pass", "nat", "nm AS skey",
        "src", "id", "bal", "nm")
      .unionAll(recs.selectExpr("'rname'", "nat", "reverse(nm)", "src",
        "id", "bal", "nm"))
      .unionAll(recs.selectExpr("'cents'", "nat",
        "lpad(CAST(CAST(round(bal * 100) + 100000 AS BIGINT) AS STRING), 8, '0')",
        "src", "id", "bal", "nm"))
    val ranked = merged.withColumn("rn", row_number().over(
      Window.partitionBy("pass", "nat").orderBy("skey", "src", "id")))
      .localCheckpoint() // both join sides read it
    val rb = ranked.filter(col("src") === "b")
      .selectExpr("pass", "nat", "id AS b_id", "nm AS name_b",
        "bal AS acct_b", "rn AS rn_b", s"rn div $w AS bk")
    val ra = ranked.filter(col("src") === "a")
      .selectExpr("pass", "nat", "id AS a_custkey", "nm AS c_name",
        "bal AS c_acctbal", "rn AS rn_a", s"rn div $w AS bk_a")
    // explicit 3-probe explode keeps candidate generation a pure EQUI
    // join on (pass, nat, bucket) — a stratum-only join with a rank
    // residual would be quadratic per stratum at scale
    val rbx = rb.withColumn("bk_a",
      explode(array(col("bk") - 1, col("bk"), col("bk") + 1)))
    val cand = rbx
      .join(ra, Seq("pass", "nat", "bk_a"))
      .filter(abs(col("rn_b") - col("rn_a")) < w)
      .groupBy("b_id", "a_custkey", "name_b", "c_name", "acct_b",
        "c_acctbal")
      .agg(min(abs(col("rn_b") - col("rn_a"))).as("min_gap"),
        countDistinct("pass").as("n_passes"))
    cand
      .selectExpr("b_id", "a_custkey", "acct_b", "c_acctbal", "min_gap",
        "n_passes",
        "least(bounded_edit_distance(name_b, c_name, 3), 3) AS ed")
      .selectExpr("b_id", "a_custkey", s"$ScoreSql AS score", "min_gap",
        "n_passes")
      .filter(col("score") >= 28)
      .selectExpr("b_id", "a_custkey", "CAST(score AS BIGINT) AS score",
        "CAST(min_gap AS BIGINT) AS min_gap",
        "CAST(n_passes AS BIGINT) AS n_passes")
      .orderBy("b_id", "a_custkey")
  }
  // ---------------------------------------------------------------- er06
  /** Unsupervised EM estimation of the Fellegi–Sunter m/u parameters —
    * the piece that makes er01–er05 DEPLOYABLE on a corpus with no
    * ground truth (Winkler 1988; what Splink's `estimate_parameters_
    * using_expectation_maximisation` runs): er04's bands assumed the
    * agreement weights; production linkage LEARNS them from the data by
    * EM over the comparison vectors. The scale insight that makes EM a
    * metadata-plane loop: the E/M steps never need the pairs, only the
    * HISTOGRAM of agreement patterns — here (balance-agrees ∈ {0,1},
    * name-edit level ∈ {0..3}), ≤ 8 rows at ANY corpus size — so one
    * blocked counting pass (the er01 join + a group-by) funds every
    * iteration.
    *
    * Two EM rounds unrolled (the g01/g06 fixed-round convention).
    * Determinism discipline: round-1 parameters are literals; each
    * E-step posterior is a per-row IEEE expression quantised to NANOS
    * (`round(r·1e9)` → BIGINT, the g01/ml20 rule) so every M-step
    * accumulation is an exact integer sum; round-2 parameters are
    * single divisions of those integers; λ ships in exact micros via
    * integer division (`m1 DIV (t DIV 10⁶)` — the inner DIV keeps the
    * numerator inside BIGINT; weighted sums here peak ≈ n_pairs·10⁹,
    * BIGINT-safe to ~9·10⁹ pairs, then the g16 DECIMAL headroom rule).
    * The WHOLE post-histogram dataflow is ONE shared SQL body run
    * verbatim by both engines (only the integer-division token
    * differs) — the zero-drift convention at its strongest.
    *
    * Pattern space is derived from the score structure (score =
    * 24·balᵢ + max(0, 12 − 4·ed) is invertible: bal = score ≥ 24,
    * name points = score − 24·bal), so the op composes [[scoredPairs]]
    * unchanged. Cost: er01's blocked join + one 8-row group-by; the EM
    * itself is broadcast-sized. */
  /** The data-plane half of the EM body: candidate scores → the ≤8-row
    * agreement-pattern histogram. Split from [[er06Tail]] so the Spark
    * op can materialise the histogram once, guard its mass (r13
    * ADVICE: the nano-scale sums below overflow BIGINT past ~9.2e9
    * pairs — silently in Spark's non-ANSI arithmetic, loudly in
    * DuckDB's HUGEINT-then-cast), and feed the broadcast-sized tail
    * from the 8 rows instead of re-deriving from the heavy view. */
  private val er06HistSql =
    """pat AS (
      |  SELECT CASE WHEN score >= 24 THEN 1 ELSE 0 END AS bal,
      |    CASE score - CASE WHEN score >= 24 THEN 24 ELSE 0 END
      |      WHEN 12 THEN 0 WHEN 8 THEN 1 WHEN 4 THEN 2 ELSE 3
      |    END AS lvl
      |  FROM scored),
      |hist AS (
      |  SELECT bal, lvl, CAST(count(*) AS BIGINT) AS n
      |  FROM pat GROUP BY 1, 2)""".stripMargin

  /** n·r1 accumulations stay inside BIGINT only below this pair mass
    * (r1 ≤ 10⁹ nano-units; 9·10⁹ · 10⁹ < 2⁶³). The Spark ops require
    * it on the materialised histogram so a beyond-headroom corpus
    * fails loudly instead of wrapping. */
  private val EmPairHeadroom = 9000000000L

  /** The EM dataflow as CTEs (initial nano-posteriors e1, M-step sums
    * ms, re-scored posteriors e2, second-round mass m2) — shared by
    * er06/er07's report ([[er06Report]] reads them) and er08's decision
    * loop (which joins e2's learned posteriors back onto the full
    * candidate set). No engine-specific arithmetic, so one text serves
    * both Spark and DuckDB. */
  private val er06EmCtes =
    """e1 AS (
       |  SELECT bal, lvl, n,
       |    CAST(round(1000000000.0 * (0.1 * mb * mn)
       |      / (0.1 * mb * mn + 0.9 * ub * un)) AS BIGINT) AS r1
       |  FROM (
       |    SELECT bal, lvl, n,
       |      CASE WHEN bal = 1 THEN 0.9 ELSE 0.1 END AS mb,
       |      CASE WHEN bal = 1 THEN 0.1 ELSE 0.9 END AS ub,
       |      CASE lvl WHEN 0 THEN 0.7 WHEN 1 THEN 0.2 WHEN 2 THEN 0.07
       |        ELSE 0.03 END AS mn,
       |      CASE lvl WHEN 0 THEN 0.05 WHEN 1 THEN 0.1 WHEN 2 THEN 0.25
       |        ELSE 0.6 END AS un
       |    FROM hist) p0),
       |ms AS (
       |  SELECT CAST(sum(n * r1) AS BIGINT) AS m1,
       |    CAST(sum(n) * 1000000000 AS BIGINT) AS t,
       |    CAST(sum(CASE WHEN bal = 1 THEN n * r1 ELSE 0 END)
       |      AS BIGINT) AS mb1,
       |    CAST(sum(CASE WHEN lvl = 0 THEN n * r1 ELSE 0 END)
       |      AS BIGINT) AS mn0,
       |    CAST(sum(CASE WHEN lvl = 1 THEN n * r1 ELSE 0 END)
       |      AS BIGINT) AS mn1,
       |    CAST(sum(CASE WHEN lvl = 2 THEN n * r1 ELSE 0 END)
       |      AS BIGINT) AS mn2,
       |    CAST(sum(n * (1000000000 - r1)) AS BIGINT) AS u1,
       |    CAST(sum(CASE WHEN bal = 1 THEN n * (1000000000 - r1)
       |      ELSE 0 END) AS BIGINT) AS ub1,
       |    CAST(sum(CASE WHEN lvl = 0 THEN n * (1000000000 - r1)
       |      ELSE 0 END) AS BIGINT) AS un0,
       |    CAST(sum(CASE WHEN lvl = 1 THEN n * (1000000000 - r1)
       |      ELSE 0 END) AS BIGINT) AS un1,
       |    CAST(sum(CASE WHEN lvl = 2 THEN n * (1000000000 - r1)
       |      ELSE 0 END) AS BIGINT) AS un2
       |  FROM e1),
       |e2 AS (
       |  SELECT bal, lvl, n, r1,
       |    CAST(round(1000000000.0 * pm / (pm + pu)) AS BIGINT) AS r2
       |  FROM (
       |    SELECT h.bal, h.lvl, h.n, h.r1,
       |      (CAST(s.m1 AS DOUBLE) / CAST(s.t AS DOUBLE))
       |        * (CASE WHEN h.bal = 1 THEN CAST(s.mb1 AS DOUBLE)
       |             ELSE CAST(s.m1 - s.mb1 AS DOUBLE) END
       |           / CAST(s.m1 AS DOUBLE))
       |        * (CASE h.lvl WHEN 0 THEN CAST(s.mn0 AS DOUBLE)
       |             WHEN 1 THEN CAST(s.mn1 AS DOUBLE)
       |             WHEN 2 THEN CAST(s.mn2 AS DOUBLE)
       |             ELSE CAST(s.m1 - s.mn0 - s.mn1 - s.mn2 AS DOUBLE) END
       |           / CAST(s.m1 AS DOUBLE)) AS pm,
       |      (1.0 - CAST(s.m1 AS DOUBLE) / CAST(s.t AS DOUBLE))
       |        * (CASE WHEN h.bal = 1 THEN CAST(s.ub1 AS DOUBLE)
       |             ELSE CAST(s.u1 - s.ub1 AS DOUBLE) END
       |           / CAST(s.u1 AS DOUBLE))
       |        * (CASE h.lvl WHEN 0 THEN CAST(s.un0 AS DOUBLE)
       |             WHEN 1 THEN CAST(s.un1 AS DOUBLE)
       |             WHEN 2 THEN CAST(s.un2 AS DOUBLE)
       |             ELSE CAST(s.u1 - s.un0 - s.un1 - s.un2 AS DOUBLE) END
       |           / CAST(s.u1 AS DOUBLE)) AS pu
       |    FROM e1 h CROSS JOIN ms s) x),
       |m2 AS (
       |  SELECT CAST(sum(n * r2) AS BIGINT) AS m2v,
       |    CAST(sum(n) * 1000000000 AS BIGINT) AS t2
       |  FROM e2)""".stripMargin

  private def er06Report(div: String) =
    s"""SELECT e2.bal, e2.lvl, e2.n AS n_pairs, e2.r1 AS r1_nano,
       |  e2.r2 AS r2_nano,
       |  CAST(s.m1 $div (s.t $div 1000000) AS BIGINT) AS lam1_micro,
       |  CAST(m2.m2v $div (m2.t2 $div 1000000) AS BIGINT) AS lam2_micro
       |FROM e2 CROSS JOIN ms s CROSS JOIN m2
       |ORDER BY bal, lvl""".stripMargin

  private def er06Tail(div: String) =
    s"""$er06EmCtes
       |${er06Report(div)}""".stripMargin

  private def er06Body(div: String) =
    s"""$er06HistSql,
       |${er06Tail(div)}""".stripMargin

  /** Shared Spark-side EM dataflow: one pass over the (possibly heavy)
    * scored view builds the histogram, materialised via an eager
    * localCheckpoint (≤8 rows); the headroom require reads those 8
    * rows, and the EM tail runs off them — the heavy candidate join is
    * consumed exactly once. */
  /** Materialises the ≤8-row agreement histogram off `view` (eager
    * localCheckpoint), guards the pair-mass headroom, registers it as
    * `<view>_hist` and returns the registered name. */
  private def emHist(s: SparkSession, view: String): String = {
    val hist = s.sql(
      s"""WITH scored AS (SELECT score FROM $view),
         |$er06HistSql
         |SELECT bal, lvl, n FROM hist""".stripMargin)
      .localCheckpoint(true)
    // coalesce: on an EMPTY candidate set sum(n) is NULL and getLong
    // would throw an opaque NPE before the friendly require fires —
    // an empty scored view should fail with the intended diagnostic
    // (mass 0 passes the headroom guard; the EM tail then reports the
    // empty histogram itself).
    val mass = hist.agg(coalesce(sum(col("n")), lit(0L))).first().getLong(0)
    require(mass <= EmPairHeadroom,
      s"EM histogram covers $mass candidate pairs — beyond the " +
        s"$EmPairHeadroom-pair BIGINT headroom of the nano-scale " +
        "accumulations (widen ms sums to DECIMAL before raising it)")
    hist.createOrReplaceTempView(s"${view}_hist")
    s"${view}_hist"
  }

  private def emFromScored(s: SparkSession, view: String): DataFrame = {
    val histView = emHist(s, view)
    s.sql(
      s"""WITH hist AS (SELECT bal, lvl, n FROM $histView),
         |${er06Tail("DIV")}""".stripMargin)
  }

  val er06 = Q("er06_em_weights",
    s"""WITH $LinksCtesSql,
       |${er06Body("//")}""".stripMargin) { (s, d) =>
    scoredPairs(s, d).createOrReplaceTempView("er06_scored")
    emFromScored(s, "er06_scored")
  }

  // ---------------------------------------------------------------- er07
  /** er06's PRODUCTION tier: EM over a deterministic RECORD sample of
    * BOTH inputs — what Splink's `estimate_u_using_random_sampling`
    * actually ships, because er06's full-candidate histogram pass is
    * the one er-family stage that grows as Σ_blocks |A_b|·|B_b| (the
    * er01 256×-at-16× validation-blocking note; measured: er06 208 s at
    * 16×). λ/m/u are RATIOS, invariant under uniform pair subsampling,
    * and sampling RECORDS (1/4 each side on independent key hashes →
    * 1/16 of pairs) shrinks the JOIN ITSELF, not just the comparator —
    * a pair-level draw after the join was measured at 16× to save only
    * 1.6× (130 s) because materialising 150 M joined rows to hash them
    * was the real bill; the record-level draw removes that term too.
    * Production sizes the per-side rate as √(target/corpus-pairs)
    * (Splink's fixed ~10⁷-pair target → corpus-independent cost); the
    * rate is FIXED 1/4 here so the oracle draws the identical sample
    * (9 / 415 / 36137 pairs at sf0.001/0.01/0.1 — non-degenerate at
    * every test SF). Independent per-side key hashes keep a true
    * pair's survival probability identical to any other pair's
    * (unbiased histogram). Post-histogram the dataflow IS er06's
    * shared body verbatim. */
  private def sideSampleSpark(key: String) =
    s"CAST(conv(substr(md5(CAST($key AS STRING)), 1, 8), 16, 10) " +
      "AS BIGINT) % 4 = 0"
  private def sideSampleDuck(key: String) =
    s"CAST(concat('0x', substr(md5(CAST($key AS VARCHAR)), 1, 8)) " +
      "AS BIGINT) % 4 = 0"

  /** Sampled scored pairs (Spark side): the 1/4 record draws applied
    * to each join INPUT, comparator only on surviving pairs — inputs
    * widened exactly as [[scoredPairs]] (the №20 v2 rule), so the
    * sampled join + DP run full-width with no pair-sized shuffle. */
  private[graft] def scoredPairsSampled(
      s: SparkSession, d: String): DataFrame = {
    widen(s,
      registry(s, d).filter(expr(sideSampleSpark("b_id"))), "b_id")
      .join(widen(s, Tables.customer(s, d)
          .filter(expr(sideSampleSpark("c_custkey"))), "c_custkey"),
        col("nat_b") === col("c_nationkey") &&
          col("seg_b") === col("c_mktsegment"))
      .selectExpr("b_id", "c_custkey", "acct_b", "c_acctbal",
        "least(bounded_edit_distance(name_b, c_name, 3), 3) AS ed")
      .selectExpr("b_id", "c_custkey AS a_custkey", s"$ScoreSql AS score")
  }

  val er07 = Q("er07_em_sampled", {
    // b CTE verbatim (the LinksCtesSql constituent); the record draws
    // sit on the join INPUTS, exactly as run
    s"""WITH $BCteSql,
       |b2 AS (SELECT * FROM b WHERE ${sideSampleDuck("b_id")}),
       |c2 AS (SELECT * FROM customer
       |       WHERE ${sideSampleDuck("c_custkey")}),
       |scored AS (
       |  SELECT b_id, c_custkey AS a_custkey, $ScoreSql AS score
       |  FROM (
       |    SELECT b_id, c_custkey, acct_b, c_acctbal,
       |           least(levenshtein(name_b, c_name), 3) AS ed
       |    FROM b2 JOIN c2
       |      ON nat_b = c_nationkey AND seg_b = c_mktsegment)),
       |${er06Body("//")}""".stripMargin
  }) { (s, d) =>
    scoredPairsSampled(s, d).createOrReplaceTempView("er07_scored")
    emFromScored(s, "er07_scored")
  }

  // ---------------------------------------------------------------- er08
  /** The EM→decision loop closed (r13 verdict ask #4): er07's learned
    * m/u/λ stop terminating in a report and DRIVE the banding — the
    * full Fellegi–Sunter program, where thresholds come from the
    * fitted model, not designed constants (er04 keeps the designed-
    * constant bands as the independent reference).
    *
    * Decision rule, read off the learned quantities alone: each
    * agreement pattern γ carries the EM posterior P(M|γ) (e2's
    * nano-scaled r2 — the monotone transform of the F-S log-likelihood
    * ratio log m(γ)/u(γ) plus the prior odds, so banding on the
    * posterior IS banding on the LLR) and the fitted class prior λ
    * (m2's second-round mass). Bands:
    *   auto_link  — posterior ≥ ½ (the Bayes rule: match is the MAP
    *                class);
    *   review     — posterior above the PRIOR but below ½ (evidence
    *                favours a match — LLR > 0 — yet not decisively;
    *                exactly the clerical-review region F-S defines
    *                between the two thresholds);
    *   non_match  — posterior at or below the prior (evidence is
    *                against).
    * A full-set pattern unseen in the sample falls back to the prior
    * (coalesce → non_match): no evidence, prior decision — the honest
    * default for a sampled model.
    *
    * Like er04 the report carries measured purity per band (the
    * registry's built-in ground truth), so the learned bands are
    * AUDITED, not trusted: `EntityResolutionSpec` pins purity
    * monotonicity (auto ≥ review ≥ non_match) and threshold
    * consistency (min/max posteriors respect the band edges).
    *
    * Cost: er07's sampled EM (record-level draws shrink the estimation
    * join itself — SCALE.md №18) + ONE conditional agg over er01's
    * blocked candidate join for the banding — the same full-set pass
    * er04 pays, with the 8-row learned table broadcast onto it. */
  /** er08's oracle CTE chain through the per-pair posterior banding —
    * shared verbatim with er09, whose links are `banded` filtered to
    * the auto_link edge (the learned-threshold seam cannot drift
    * between the report and the consolidation that acts on it). */
  private val LearnedBandedCtes: String =
    s"""$BCteSql,
       |scored_all AS (
       |  SELECT b_id, c_custkey AS a_custkey,
       |         $ScoreSql AS score
       |  FROM (
       |    SELECT b_id, c_custkey, acct_b, c_acctbal,
       |           least(levenshtein(name_b, c_name), 3) AS ed
       |    FROM b JOIN customer
       |      ON nat_b = c_nationkey AND seg_b = c_mktsegment)),
       |b2 AS (SELECT * FROM b WHERE ${sideSampleDuck("b_id")}),
       |c2 AS (SELECT * FROM customer
       |       WHERE ${sideSampleDuck("c_custkey")}),
       |scored AS (
       |  SELECT b_id, c_custkey AS a_custkey, $ScoreSql AS score
       |  FROM (
       |    SELECT b_id, c_custkey, acct_b, c_acctbal,
       |           least(levenshtein(name_b, c_name), 3) AS ed
       |    FROM b2 JOIN c2
       |      ON nat_b = c_nationkey AND seg_b = c_mktsegment)),
       |$er06HistSql,
       |$er06EmCtes,
       |lam AS (SELECT CAST(m2v // (t2 // 1000000000) AS BIGINT)
       |               AS lam_nano FROM m2),
       |pat_all AS (
       |  SELECT b_id, a_custkey,
       |    CASE WHEN score >= 24 THEN 1 ELSE 0 END AS bal,
       |    CASE score - CASE WHEN score >= 24 THEN 24 ELSE 0 END
       |      WHEN 12 THEN 0 WHEN 8 THEN 1 WHEN 4 THEN 2 ELSE 3
       |    END AS lvl
       |  FROM scored_all),
       |banded AS (
       |  SELECT p.b_id, p.a_custkey,
       |    coalesce(e2.r2, lam.lam_nano) AS post_nano, lam.lam_nano
       |  FROM pat_all p
       |  LEFT JOIN e2 ON e2.bal = p.bal AND e2.lvl = p.lvl
       |  CROSS JOIN lam)""".stripMargin

  val er08 = Q("er08_em_decisions",
    s"""WITH $LearnedBandedCtes
       |SELECT
       |  CASE WHEN post_nano >= 500000000 THEN 'auto_link'
       |       WHEN post_nano > lam_nano THEN 'review'
       |       ELSE 'non_match' END AS band,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN a_custkey = b_id - 10000000 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_true,
       |  CAST(CASE WHEN count(*) = 0 THEN 0
       |       ELSE sum(CASE WHEN a_custkey = b_id - 10000000
       |                     THEN 1 ELSE 0 END) * 1000000 // count(*) END
       |       AS BIGINT) AS true_ppm,
       |  CAST(min(post_nano) AS BIGINT) AS min_post_nano,
       |  CAST(max(post_nano) AS BIGINT) AS max_post_nano,
       |  CAST(min(lam_nano) AS BIGINT) AS lam_nano
       |FROM banded
       |GROUP BY 1
       |ORDER BY band""".stripMargin) { (s, d) =>
    // learn on the sampled draw (er07's dataflow verbatim) ...
    scoredPairsSampled(s, d).createOrReplaceTempView("er08_scored")
    val histView = emHist(s, "er08_scored")
    val learned = s.sql(
      s"""WITH hist AS (SELECT bal, lvl, n FROM $histView),
         |$er06EmCtes,
         |lam AS (SELECT CAST(m2v DIV (t2 DIV 1000000000) AS BIGINT)
         |               AS lam_nano FROM m2)
         |SELECT e2.bal, e2.lvl, e2.r2, lam.lam_nano
         |FROM e2 CROSS JOIN lam""".stripMargin)
      .localCheckpoint(true) // ≤ 8 rows — the learned decision table
    learned.createOrReplaceTempView("er08_learned")
    // ... decide on the FULL candidate set (er01's blocked join)
    scoredPairs(s, d).createOrReplaceTempView("er08_scored_all")
    s.sql(
      s"""WITH lam AS (SELECT min(lam_nano) AS lam_nano
         |             FROM er08_learned),
         |pat_all AS (
         |  SELECT b_id, a_custkey,
         |    CASE WHEN score >= 24 THEN 1 ELSE 0 END AS bal,
         |    CASE score - CASE WHEN score >= 24 THEN 24 ELSE 0 END
         |      WHEN 12 THEN 0 WHEN 8 THEN 1 WHEN 4 THEN 2 ELSE 3
         |    END AS lvl
         |  FROM er08_scored_all),
         |banded AS (
         |  SELECT p.b_id, p.a_custkey,
         |    coalesce(e.r2, lam.lam_nano) AS post_nano, lam.lam_nano
         |  FROM pat_all p
         |  LEFT JOIN er08_learned e ON e.bal = p.bal AND e.lvl = p.lvl
         |  CROSS JOIN lam)
         |SELECT
         |  CASE WHEN post_nano >= 500000000 THEN 'auto_link'
         |       WHEN post_nano > lam_nano THEN 'review'
         |       ELSE 'non_match' END AS band,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a_custkey = b_id - 10000000
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(CASE WHEN count(*) = 0 THEN 0
         |       ELSE sum(CASE WHEN a_custkey = b_id - 10000000
         |                     THEN 1 ELSE 0 END) * 1000000 DIV count(*)
         |       END AS BIGINT) AS true_ppm,
         |  CAST(min(post_nano) AS BIGINT) AS min_post_nano,
         |  CAST(max(post_nano) AS BIGINT) AS max_post_nano,
         |  CAST(min(lam_nano) AS BIGINT) AS lam_nano
         |FROM banded
         |GROUP BY 1
         |ORDER BY band""".stripMargin)
  }

  // ---------------------------------------------------------------- er09
  /** The er-family capstone (r14 verdict ask #8): er02's survivorship
    * consolidation driven by er08's LEARNED links instead of er01's
    * designed-constant threshold — the last designed-vs-learned seam
    * closed. Links are the auto_link band exactly (EM posterior ≥ ½,
    * the Bayes MAP rule over the fitted m/u/λ), so the golden-record
    * table downstream of a REAL F-S deployment — where thresholds come
    * from the model — is itself under the DuckDB hash gate, not just
    * the band-count report.
    *
    * Dataflow: er07's sampled EM learns the ≤8-row decision table
    * (broadcast); er01's blocked candidate pass is banded against it
    * (the er08 full-set pass verbatim, shared `LearnedBandedCtes` /
    * temp-view splice); the auto_link edges pass UNIQUE ASSIGNMENT
    * (min a_custkey per b_id — a learned band can be liberal enough to
    * auto-link one record to several masters, and survivorship demands
    * each source record merge into exactly ONE golden record, else
    * Σ n_sources double-counts absorbed records); the resolved links
    * feed [[consolidate]] — er02's exact survivorship code. Scale: the candidate pass is the
    * №20-widened blocked join; the learned table and the link counts
    * are broadcast-sized; nothing pair-sized crosses a shuffle.
    * `EntityResolutionSpec` pins the designed-vs-learned seam
    * quantitatively (er09 vs er02 golden tables). */
  val er09 = Q("er09_learned_golden_records",
    s"""WITH $LearnedBandedCtes,
       |links AS (
       |  SELECT b_id, min(a_custkey) AS a_custkey FROM banded
       |  WHERE post_nano >= 500000000
       |  GROUP BY b_id),
       |${consolidationSql("links")}""".stripMargin) { (s, d) =>
    scoredPairsSampled(s, d).createOrReplaceTempView("er09_scored")
    val histView = emHist(s, "er09_scored")
    val learned = s.sql(
      s"""WITH hist AS (SELECT bal, lvl, n FROM $histView),
         |$er06EmCtes,
         |lam AS (SELECT CAST(m2v DIV (t2 DIV 1000000000) AS BIGINT)
         |               AS lam_nano FROM m2)
         |SELECT e2.bal, e2.lvl, e2.r2, lam.lam_nano
         |FROM e2 CROSS JOIN lam""".stripMargin)
      .localCheckpoint(true) // ≤ 8 rows — the learned decision table
    learned.createOrReplaceTempView("er09_learned")
    scoredPairs(s, d).createOrReplaceTempView("er09_scored_all")
    val links = s.sql(
      s"""WITH lam AS (SELECT min(lam_nano) AS lam_nano
         |             FROM er09_learned),
         |pat_all AS (
         |  SELECT b_id, a_custkey,
         |    CASE WHEN score >= 24 THEN 1 ELSE 0 END AS bal,
         |    CASE score - CASE WHEN score >= 24 THEN 24 ELSE 0 END
         |      WHEN 12 THEN 0 WHEN 8 THEN 1 WHEN 4 THEN 2 ELSE 3
         |    END AS lvl
         |  FROM er09_scored_all)
         |SELECT b_id, min(a_custkey) AS a_custkey
         |FROM pat_all p
         |LEFT JOIN er09_learned e ON e.bal = p.bal AND e.lvl = p.lvl
         |CROSS JOIN lam
         |WHERE coalesce(e.r2, lam.lam_nano) >= 500000000
         |GROUP BY b_id""".stripMargin)
    consolidate(s, d, links)
  }

  def all: Seq[Q] = Seq(er01, er02, er03, er04, er05, er06, er07, er08,
    er09)
}
