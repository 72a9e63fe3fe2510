package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col

/** Catalog-wide audit for the SCALE.md №15/№16 failure class: a
  * CPU-DENSE stage whose task width is inherited rather than chosen.
  *
  * Twice a comparator ran effectively single-task at 16× while 31
  * cores idled: №15 (d12) when the AQE coalescer shrank a CPU-dense
  * stage to its tiny byte size, and №16/№20 (er01) when a broadcast
  * join's output inherited the probe SCAN's split count — one split
  * for a compact single-file table — and ~10⁸ banded edit distances
  * serialised onto one core. The common structure: an expensive
  * expression (string DP, vector math, fingerprinting) evaluated in a
  * stage whose parallelism was set by BYTES (scan splits), not by the
  * CPU work the stage performs — and a row-MULTIPLYING broadcast join
  * between scan and comparator makes bytes-based width arbitrarily
  * wrong, because the multiplier (pairs per probe row) grows with
  * corpus scale while the probe's split count does not.
  *
  * The rule this spec enforces: any plan node evaluating one of the
  * engine's expensive custom expressions must NOT sit in the output
  * stage of a broadcast join with no exchange in between. Sitting
  * directly over a scan is fine (per-row work scales with the bytes
  * that size the splits); over a shuffle is fine (width is
  * `spark.sql.shuffle.partitions`, the operator author's choice);
  * over a broadcast join it must be separated by an explicit
  * `repartition` (the er01 fix) unless the query is in the exemption
  * table below with a reason the reviewer can check.
  */
class ParallelismAuditSpec extends SparkSpec {

  /** Codegen'd but CPU-dense per row — the expressions whose stages
    * must have chosen, not inherited, width. */
  private val expensiveExprs = Set(
    "BoundedEditDistance", "CosineSimilarity", "CosineSimilarityD",
    "DotProduct", "SimHash64", "NGramExplode", "WordShingles")

  /** Queries allowed to evaluate an expensive expression directly in a
    * broadcast-join output stage, each with the reason the shape is
    * safe at estate scale. The legitimate pattern: the broadcast side
    * is a BOUNDED small frame (query set, centroid table, envelope
    * scalar), so the row multiplier is a constant and the stage's CPU
    * cost stays proportional to the probe bytes that sized its splits.
    * An exemption whose broadcast side can grow with the corpus is a
    * bug — that was er01. */
  private val exempt: Map[String, String] = Map(
    // -- bounded broadcast side: the multiplier is the QUERY/CENTROID
    //    set, a constant the operator owns, so comparator CPU stays
    //    proportional to the probe bytes that sized its splits.
    //    (s04/s10/s15/s20/d21 needed no entry once the walk learned to
    //    pass THROUGH broadcast joins: their comparators sit above an
    //    exchange further down the streamed side.)
    "s01_topk_cosine" -> "query set (Q vectors) is the broadcast side",
    "s02_lsh_topk" -> "broadcast side is Q*B query band rows",
    "s03_ivf_topk" -> "broadcast sides are K centroids + Q queries",
    "s05_kmeans_step" -> "broadcast side is the K-centroid table",
    "s07_ivf_retrained" -> "broadcast sides are retrained centroids + Q",
    "s11_mips_topk" -> "broadcast side is the Q query set",
    "s14_filtered_topk" -> "broadcast side is the Q query set",
    "s19_ivf_bucketed_filtered" -> "broadcast side is the Q probe set",
    "ml19_knn_classifier" ->
      ("broadcast side is the holdout test split - a fixed evaluation " +
        "set in deployment, not corpus-scaling; 16x measured 1.0x"),
    // (d04 was exempt here through round 15; round 16's Width.spread
    // on its nested-loop stream side means its comparator no longer
    // sits at broadcast-inherited width, so the exemption went stale
    // and was removed — the audit now proves the fixed shape.)
    // (s08 was exempt here in early round 14 under its C~sqrt(n) knob
    // reading; the first complete 16x pass showed the knob does NOT
    // excuse the WIDTH — 2.6e8 comparator rows on the probe scan's one
    // split — so knnGraphEdges gained the explicit exchange and the
    // exemption is gone: the audit now proves the fixed shape.)
    // -- multiplier bounded by construction
    // (er02 was exempt through round 15; round 16's links
    // localCheckpoint in consolidate() truncates the lineage the
    // walker used to flag, so the exemption went stale and was
    // removed.)
    "er03_blocking_quality" ->
      ("ED only on the 1:1 truth join (b_id-10^7 = c_custkey), " +
        "multiplier exactly 1; candidate counts carry no comparator"),
    "er05_sorted_neighborhood" ->
      ("candidates bounded to 3 probes x window w per record per pass " +
        "by the rank-band filter - multiplier O(w), not corpus-scaling"))

  private def initial(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Names of expensive expression classes appearing in this node's
    * own expressions. */
  private def expensiveIn(p: SparkPlan): Seq[String] =
    p.expressions.flatMap(_.collect {
      case e if expensiveExprs(e.getClass.getSimpleName) =>
        e.getClass.getSimpleName
    }).distinct

  /** Walks the input chain below `n` to the node that SET the stage's
    * width, passing THROUGH broadcast joins via their streamed side
    * (a broadcast join keeps its streamed child's partitioning):
    * Some(joinName) iff the walk reaches a LEAF having passed at least
    * one broadcast join — width = the probe scan's byte-sized splits
    * while the join multiplied the rows (the er01/s08 shape); None if
    * an exchange / shuffled join is reached first (width chosen by the
    * operator author) or the chain is join-free per-row work. */
  private def broadcastPinned(n: SparkPlan,
      passed: Option[String] = None): Option[String] = n match {
    case _: ShuffleExchangeLike => None
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec => None
    case j: BroadcastHashJoinExec =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      }
      broadcastPinned(streamed, Some(j.nodeName))
    case j: BroadcastNestedLoopJoinExec =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      }
      broadcastPinned(streamed, Some(j.nodeName))
    case l if l.children.isEmpty => passed
    case other =>
      other.children.view.flatMap(broadcastPinned(_, passed)).headOption
  }

  /** All (node, joinName, exprs) violations in a physical plan. A
    * broadcast join evaluating the expensive expr in its own condition
    * is the same shape, one node earlier — the walk starts AT the join
    * in that case, at the node's children otherwise. */
  private def violations(plan: SparkPlan): Seq[String] =
    plan.collect {
      case p if expensiveIn(p).nonEmpty =>
        val starts: Seq[SparkPlan] = p match {
          case _: BroadcastHashJoinExec |
               _: BroadcastNestedLoopJoinExec => Seq(p)
          case _ => p.children
        }
        starts.flatMap(broadcastPinned(_)).distinct.map(jn =>
          s"${expensiveIn(p).mkString("/")} in ${p.nodeName} " +
            s"width-pinned to $jn's probe side")
    }.flatten

  test("the pre-fix er01 comparator shape IS flagged (audit is live)") {
    // scoredPairs without its input exchanges: the round-13 single-task
    // shape, comparator projection directly in the broadcast-join
    // output stage
    val unwidened = graft.ops.EntityResolution.registry(spark, sf)
      .join(graft.model.Tables.customer(spark, sf),
        col("nat_b") === col("c_nationkey") &&
          col("seg_b") === col("c_mktsegment"))
      .selectExpr("b_id", "c_custkey",
        "least(bounded_edit_distance(name_b, c_name, 3), 3) AS ed")
    val v = violations(initial(unwidened))
    assert(v.exists(_.contains("BoundedEditDistance")),
      s"auditor missed the №16 single-task comparator shape: $v")
  }

  test("the fixed er01 comparator is NOT flagged (exchange in between)") {
    val v = violations(initial(graft.ops.EntityResolution
      .scoredPairs(spark, sf)))
    assert(v.isEmpty, s"er01 comparator regressed to inherited width: $v")
  }

  test("the NON-broadcast (SMJ) er01 regime is the audited known shape: " +
    "block-key exchanges set the width, input exchanges are bypassed") {
    // r14 ADVICE: widen's input exchanges only guarantee width in
    // the broadcast regimes. Under autoBroadcastJoinThreshold=-1 Spark
    // plans an SMJ and inserts FRESH exchanges on the (nation, segment)
    // block keys (~125 distinct values) — the comparator collapses to
    // block-key-count width with per-block skew. This test pins that
    // regime so it stays a KNOWN, audited shape: (a) the join really is
    // an SMJ, (b) its immediate children are exchanges on the join keys
    // (so the auditor's None-at-exchange answer is about THESE 125-way
    // exchanges, not widen's), (c) the walker still reports no
    // broadcast-pinned width (vacuously — there is no broadcast join).
    // The estate-scale fix is a higher-cardinality block key (linksProd)
    // — not a wider exchange on a 125-value key.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = initial(graft.ops.EntityResolution.scoredPairs(spark, sf))
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected an SMJ under threshold=-1:\n$plan")
      val j = smjs.head
      def widthSetter(p: SparkPlan): String = p match {
        case s: ShuffleExchangeLike => s.outputPartitioning.toString
        case other if other.children.nonEmpty =>
          widthSetter(other.children.head)
        case leaf => s"LEAF:${leaf.nodeName}"
      }
      for (side <- Seq(j.left, j.right)) {
        val w = widthSetter(side)
        assert(w.contains("hashpartitioning"),
          s"SMJ side width not set by an exchange (got $w):\n$side")
        assert(w.contains("nat") || w.contains("nationkey"),
          s"SMJ exchange not on the block keys (got $w) — the known " +
            s"125-value-collapse shape changed; re-derive the caveat")
      }
      assert(violations(plan).isEmpty,
        "walker flagged a broadcast-pinned width in a plan with no " +
          "broadcast join")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("s08's probe-side width-setter is the user REPARTITION_BY_NUM " +
    "on (cid, salt) — in the SMJ regime too") {
    // №22/№23: the walker above answers None at ANY exchange, so the
    // pre-fix dead-weight vec_id repartition ALSO passed it while AQE
    // coalesced the join's own small-byte ENSURE_REQUIREMENTS
    // exchanges to ONE task under the 2.6e8-cosine comparator at 16×.
    // This test pins what the walker cannot see: under
    // autoBroadcastJoinThreshold=-1 (the localCheckpoint-erased-stats
    // regime that actually planned at 16×) the candidate join is an
    // SMJ whose width is set by the USER repartition — non-coalescible
    // REPARTITION_BY_NUM origin — and that repartition keys on the
    // JOIN key cid plus the №23 salt (cid alone has only C=16 distinct
    // values, a ≤16-task ceiling on a 32-core box). Reverting
    // Similarity's probe exchange to vec_id (or dropping the salt)
    // goes red here, not silent.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = initial(graft.ops.Similarity.s08.run(spark, sf))
      val smjs = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("cid")) => j
      }
      assert(smjs.nonEmpty,
        s"expected an SMJ on cid under threshold=-1:\n$plan")
      def nearestExchange(p: SparkPlan): Option[ShuffleExchangeLike] =
        p match {
          case s: ShuffleExchangeLike => Some(s)
          case other =>
            other.children.view.flatMap(nearestExchange).headOption
        }
      val widthSetters = smjs.flatMap(j =>
        Seq(j.left, j.right).flatMap(nearestExchange(_)))
      val userWidth = widthSetters.filter(e =>
        e.shuffleOrigin.toString == "REPARTITION_BY_NUM")
      // №25: BOTH sides must be user-pinned, not just the probe side —
      // AQE's runtime broadcast conversion streams whichever side it
      // did not build, and a streamed ENSURE_REQUIREMENTS exchange is
      // coalescible to ONE partition under the comparator (measured at
      // 16×: 869 s/1 task with only the probe side pinned, 60 s/32
      // tasks with both).
      assert(userWidth.size >= 2,
        s"both SMJ sides must be width-set by user repartitions — the " +
          s"№22/№25 fix regressed (setters: ${widthSetters.map(e =>
            s"${e.shuffleOrigin} ${e.outputPartitioning}")})")
      assert(userWidth.forall { e =>
        val part = e.outputPartitioning.toString
        part.contains("cid") && part.contains("salt")
      }, s"user repartitions are not on (cid, salt) — №23's width " +
        s"ceiling fix regressed: ${userWidth.map(_.outputPartitioning)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("no catalog query evaluates an expensive expression at " +
    "broadcast-join-inherited width") {
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    val flagged = scala.collection.mutable.Set[String]()
    for (q <- SparkEntry.catalog) {
      val vs =
        try violations(initial(q.run(spark, sf)))
        catch { case e: Exception =>
          fail(s"${q.name}: failed to build a plan at $sf: $e")
        }
      if (vs.nonEmpty) flagged += q.name
      vs.foreach { v =>
        exempt.get(q.name) match {
          case Some(_) => () // reviewed shape, reason in the table
          case None => offenders += s"${q.name}: $v"
        }
      }
    }
    // anti-vacuity: the exemption table documents shapes that EXIST —
    // a sweep that stops seeing them has a broken matcher, and a
    // table entry no plan hits any more is stale documentation
    assert(flagged.size >= 10,
      s"walker flagged only ${flagged.size} queries — match broken?")
    val stale = exempt.keySet.diff(flagged)
    assert(stale.isEmpty,
      s"stale exemptions (no plan hits them any more): $stale")
    info(s"${SparkEntry.catalog.size} queries audited, " +
      s"${flagged.size} flagged, ${exempt.size} exempt, " +
      s"${offenders.size} offender(s)")
    assert(offenders.isEmpty,
      s"expensive work at inherited width (add a repartition before " +
        s"the comparator, or an exemption WITH a reason):\n" +
        offenders.mkString("\n"))
  }
}
