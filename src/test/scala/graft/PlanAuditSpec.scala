package graft

/** Locks in the plan-shape properties the scale design depends on
  * (SCALE.md): filter pushdown, column pruning, broadcast dims, top-k
  * without global sort, single-shuffle as-of. A refactor that silently
  * reintroduces a shuffle or loses pushdown fails here, not in a later
  * round's benchmark. */
class PlanAuditSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val q = SparkEntry.catalog.find(_.name == name).get
    q.run(spark, sf).queryExecution.executedPlan.toString
  }

  test("q06: whole WHERE clause pushes to the parquet scan, columns pruned") {
    val plan = executedPlan("q06_forecast_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(800))
    // projection prunes to the 4 referenced columns
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      plan.take(1500))
  }

  test("q03/q05: dimension joins broadcast (no fact-side shuffle for dims)") {
    assert(executedPlan("q03_shipping_priority").contains("BroadcastHashJoin"))
    assert(executedPlan("q05_region_volume").contains("BroadcastHashJoin"))
  }

  test("q02: top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan("q02_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("q20: as-of join is a single shuffle before the window") {
    val plan = executedPlan("q20_asof_join")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 hash shuffle, got $shuffles:\n${plan.take(1200)}")
  }

  test("s02: LSH candidates come from an equi-join on bucket") {
    val plan = executedPlan("s02_lsh_topk")
    assert(plan.contains("HashJoin"), plan.take(800))
    assert(!plan.contains("NestedLoop"), plan.take(800))
  }

  test("d07: bucketed simhash pairs via equi-join, never a nested loop") {
    val plan = executedPlan("d07_simhash_bucketed")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(800))
  }

  test("d09: production simhash pairs via equi-join, never a nested loop") {
    val plan = executedPlan("d09_simhash_prod")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(800))
  }

  test("n02: two-phase skip has no single-partition window") {
    // the naive row_number() OVER (ORDER BY doc_id) funnels the table
    // through one task; the two-phase formulation must plan a bounded
    // top-k (TakeOrderedAndProject) + broadcast, with no WindowExec
    val plan = executedPlan("n02_skip_offset")
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
  }

  test("t07: eval-side shingles broadcast; corpus side never shuffles for the join") {
    val plan = executedPlan("t07_decontaminate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(800))
  }

  test("t06: winnow retrieval joins on print, never a nested loop") {
    val plan = executedPlan("t06_winnow_candidates")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(800))
  }

  test("q27/p02: windows are key-partitioned, never single-partition") {
    val latest = executedPlan("q27_latest_per_key")
    assert(latest.contains("hashpartitioning(o_custkey"), latest.take(1200))
    val pack = executedPlan("p02_pack_sequences")
    assert(pack.contains("hashpartitioning(shard"), pack.take(1200))
  }

  test("q33: RANGE-frame window is customer-partitioned, never single-partition") {
    val plan = executedPlan("q33_range_window")
    assert(plan.contains("hashpartitioning(o_custkey"), plan.take(1200))
  }

  test("q34: all filtered aggregates evaluate in ONE aggregation pass") {
    val plan = executedPlan("q34_filtered_agg")
    // one partial+final pair over a single scan — no Expand (the
    // rollup/cube shape) and no self-join of the orders table
    assert(!plan.contains("Expand"), plan.take(1200))
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs == 2, s"expected partial+final HashAggregate, got $aggs")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single orders scan, got $scans")
  }

  test("s04: PQ cross-products only against broadcast codebooks; ADC is an equi-join") {
    val plan = executedPlan("s04_pq_topk")
    // vector × codebook expansion is a cross join BY DESIGN — but only
    // ever against the broadcast 16-row codebook / 1280-row qdist side,
    // never a partitioned cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // the ADC lookup (m, code) and the re-rank joins hash on their keys
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("st07: enrichment dim broadcasts; the event stream never shuffles") {
    val plan = executedPlan("st07_enrich_dim")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("q28: upsert plans a full outer join on the key") {
    val plan = executedPlan("q28_upsert_merge")
    assert(plan.contains("FullOuter"), plan.take(1200))
  }

  test("s03: centroid argmax is a broadcast pass over the tiny centroid table") {
    // the |corpus| × 16 comparison is INTENTIONALLY a broadcast
    // nested-loop: the build side is C centroids, not a fact table
    val plan = executedPlan("s03_ivf_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1200))
  }

  test("t12: chunking is map-only — no join, no window, no hash shuffle") {
    val plan = executedPlan("t12_chunk_overlap")
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
    // the only Exchange allowed is the presentation ORDER BY's range
    // partitioning; chunk derivation itself must ride the scan
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1200))
  }

  test("t13: BM25 broadcasts df/stats; no partitioned cartesian") {
    val plan = executedPlan("t13_bm25_topk")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // the 1-row corpus-stats join may plan as a broadcast nested loop —
    // that is the intended scalar broadcast, never a partitioned product
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("p04: budget-fill window is source-partitioned, never single-partition") {
    val plan = executedPlan("p04_token_budget_mix")
    assert(plan.contains("hashpartitioning(source"), plan.take(1200))
  }

  test("q37: OHLC bars are one hash-agg pass, no window sort") {
    // min_by/max_by keep O(1) state per bar; a row_number formulation
    // would sort every event inside a window exchange
    val plan = executedPlan("q37_ohlc_resample")
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      plan.take(800))
  }

  test("ml02: all 18 confusion counts evaluate in ONE aggregation pass") {
    val q = SparkEntry.catalog.find(_.name == "ml02_eval_metrics").get
    val plan = q.run(spark, sf).queryExecution.executedPlan.toString
    // the metrics assemble from localCheckpointed 1-row scans — the
    // corpus-side aggregation must not reappear per class
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 0, s"corpus re-scanned $scans times after checkpoint:\n${plan.take(800)}")
  }

  test("g01: a PageRank round plans equi-joins + one agg, never nested loops") {
    // g01's own final plan is checkpoint-truncated; audit one round's
    // dataflow directly (the loop body g01 runs three times)
    import org.apache.spark.sql.functions._
    val li = model.Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    val pn = concat(lit("p:"), col("pk").cast("string"))
    val sn = concat(lit("s:"), col("sk").cast("string"))
    val edges = li.select(pn.as("src"), sn.as("dst"))
      .union(li.select(sn.as("src"), pn.as("dst")))
    val nodes = edges.select(col("src").as("node")).distinct()
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("deg"))
    val r0 = nodes.select(col("node"), (lit(1.0) / lit(100.0)).as("pr"))
    val plan = ops.Graph.pageRankRound(edges, deg, nodes, r0, 100.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1200))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1200))
  }

  test("g02: projection self-join is an equi-join on part, never a cartesian") {
    val plan = executedPlan("g02_coprojection")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1200))
  }

  test("st12: streaming-twin bars share q37's hash-agg shape (no sort agg)") {
    val plan = executedPlan("st12_ohlc_stream_twin")
    assert(!plan.contains("SortAggregate") && !plan.contains("Window"),
      plan.take(1000))
  }

  test("in05: the scan opens only the matching hive partition (1 of 3)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = SparkEntry.catalog.find(_.name == "in05_partition_pruning").get
    // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec wrapper
    // exposes no children, so collect() would find nothing
    val scans = q.run(spark, sf).queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // pruning happens at file-listing time: the non-matching event_date
    // directories are never opened (no footer reads, no I/O)
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scans.head.selectedPartitions.partitionCount}")
    // and the predicate is a partition filter, not a post-scan Filter
    assert(scans.head.partitionFilters.nonEmpty)
  }

  test("in08: dynamic partition pruning engages — dynamicpruning filter planned, 1 of 3 partitions read at runtime") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val q = SparkEntry.catalog.find(_.name == "in08_dynamic_partition_pruning").get
    val df = q.run(spark, sf)
    // tier 1, static: the fact scan carries a dynamicpruning PARTITION
    // filter (not a post-scan Filter) — the predicate planted by the
    // PartitionPruning rule from the dim's selective filter. sparkPlan,
    // not executedPlan: AQE's wrapper hides children from collect()
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partitioned fact scan found")
    val fact = scans.head
    assert(fact.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamicpruning partition filter on the fact scan: ${fact.partitionFilters}")
    // anti-vacuity: statically (before the subquery result arrives) the
    // listing still holds all 3 date partitions — nothing was pruned at
    // compile time, so whatever the runtime metric shows below is DPP's
    // doing, not a constant-folded static predicate
    assert(fact.selectedPartitions.partitionCount == 3,
      s"static listing should see all 3 partitions, got ${fact.selectedPartitions.partitionCount}")
    // tier 2, runtime: execute, then read the scan's own metric — only
    // the one partition matching the dim filter was actually read
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // QueryStageExec nodes are leaves to collect() (Spark 4 wraps even
    // the final stage in a ResultQueryStage), so descend through them
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def partScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty =>
        Seq(f)
      case s: QueryStageExec => partScans(s.plan)
    }.flatten
    val execScans = partScans(finalPlan)
    assert(execScans.nonEmpty, s"no partitioned scan in the executed plan:\n$finalPlan")
    val m = execScans.head.metrics
    assert(m.contains("numPartitions"),
      s"scan metrics lack numPartitions (have: ${m.keys.mkString(", ")})")
    assert(m("numPartitions").value == 1,
      s"expected 1 partition read at runtime, got ${m("numPartitions").value}")
  }

  test("g03: wedge and closing joins are equi-joins; top-k window is keyed") {
    val plan = executedPlan("g03_triangles")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1200))
    // the sparsification ranking partitions by node, never one task —
    // audited STRUCTURALLY on the edge-set subplan (g03's own plan is
    // truncated by the localCheckpoint reuse points). r05 ADVICE: the
    // previous substring matches (`hashpartitioning(v`, no
    // `SinglePartition`) were brittle against attribute renames and
    // plan-rendering changes; collecting the WindowExec nodes and
    // inspecting partitionSpec cannot silently invert.
    // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec wrapper
    // exposes no children, so collect() would find nothing (the in05
    // lesson)
    import org.apache.spark.sql.execution.window.WindowExec
    val edgeExec = ops.Graph.projectionEdges(spark, sf)
      .queryExecution.sparkPlan
    val windows = edgeExec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the top-k ranking window:\n$edgeExec")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"ranking window lost its node key (single-partition sort):\n$w")
    }
  }

  test("g03/g04/g05: the materialised-projection pipeline never rescans the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // r8 verdict closed: g03 and g04 now read the memoised artifact like
    // g05 — all three must scan ONLY the edge artifact; a lineitem scan
    // means the projection is being re-derived per query.
    // g11/g13 read the memoised ANF register states the same way
    for (name <- Seq("g03_triangles", "g04_clustering_coeff",
        "g05_materialized_graph", "g11_neighborhood_function",
        "g13_harmonic_centrality")) {
      val q = SparkEntry.catalog.find(_.name == name).get
      // sparkPlan, not executedPlan: the AQE wrapper hides children
      val plan = q.run(spark, sf).queryExecution.sparkPlan
      val scans = plan.collect { case f: FileSourceScanExec => f }
      val paths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(paths.nonEmpty, s"$name: expected at least the artifact scan")
      assert(!paths.exists(_.contains("lineitem")),
        s"$name rescans the corpus: $paths")
      assert(paths.forall(_.contains("graft-proj")),
        s"$name: unexpected scan targets: $paths")
    }
  }

  test("ml03: single-partition windows only ever walk the bounded score histogram") {
    // The repo-wide single-partition-window ban has ONE sanctioned
    // exception (r05 ADVICE asked for it to be audited, not assumed):
    // ml03's ROC cumulative walk uses Window.orderBy with no partitionBy,
    // but its input is the quantised-score HISTOGRAM, never the corpus.
    // Two pins keep the exception honest:
    //  1. the histogram cardinality is hard-bounded by the quantisation
    //     (quality ∈ [0,1] at 1e-6 → ≤ 1_000_001 rows) and in practice
    //     by the distinct scores in the corpus;
    //  2. structurally, any empty-partitionSpec WindowExec in ml03's plan
    //     must read a checkpointed (RDD-scan) input — the materialised
    //     histogram — not a live file scan: a refactor that dropped the
    //     localCheckpoint and let the window consume the corpus subplan
    //     would surface a file-scan leaf here and fail.
    val quant = "CAST(round(quality * 1000000.0) AS BIGINT)"
    val scores = ops.TextAnalysis.t02.run(spark, sf)
    val histRows = scores.selectExpr(quant).distinct().count()
    assert(histRows <= 1000001L, s"quantisation bound violated: $histRows")
    assert(histRows <= scores.count())
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // sparkPlan: the AQE wrapper would hide every node from collect()
    val plan = SparkEntry.catalog.find(_.name == "ml03_roc_auc").get
      .run(spark, sf).queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    wins.foreach { w =>
      val leaves = w.child.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[RDDScanExec]),
        s"single-partition window reads a non-checkpointed input:\n$w")
    }
    // anti-vacuity: today the windows run behind localCheckpoints, so
    // collect() legitimately finds none — but then the plan STRING must
    // not mention a window either. A refactor whose window hides from
    // collect() behind a wrapper still prints in the tree, so the two
    // checks cannot both pass while a corpus-reading window exists.
    if (wins.isEmpty)
      assert(!plan.toString.contains("Window"),
        s"a window is present but invisible to collect():\n${plan.toString.take(1200)}")
  }

  test("q38: rolling distinct plans aggregations, not a window rescan") {
    val plan = executedPlan("q38_rolling_distinct")
    // the design point: no Window operator anywhere — the frame is
    // inverted into a bounded explode + two keyed aggregations
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q39: the z aggregation stays a HashAggregate over one scan") {
    val plan = executedPlan("q39_zorder_layout")
    assert(plan.contains("HashAggregate"), plan.take(800))
    val scans = "Scan parquet".r.findAllIn(plan).length
    // lineitem is read twice by design: once for the 1-row bounds agg
    // (broadcast back), once for the curve itself
    assert(scans <= 2, s"expected <=2 lineitem scans, got $scans")
  }

  test("multimodal layout: metadata-only projection prunes the binary payload AND nested fields") {
    // THE multimodal scan concern at 100 TB: media rows are KB-to-MB of
    // binary payload next to bytes of metadata, so a metadata query that
    // drags payloads through the scan reads the table's full weight for
    // a 0.1% answer. Pin both pruning tiers on a written nested table:
    // the payload column must vanish from the scan, and the meta STRUCT
    // must prune to the referenced field (nestedSchemaPruning).
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-media-prune").toString
    (1 to 50).map(i => (i.toLong, Array.fill(1024)(i.toByte),
        (i % 640, i % 480, "bmp")))
      .toDF("doc_id", "payload", "m")
      .select(col("doc_id"), col("payload"), col("m").cast(
        "struct<width:int,height:int,fmt:string>").as("meta"))
      .write.mode("overwrite").parquet(tmp)
    val q = spark.read.parquet(tmp)
      .select(col("doc_id"), col("meta.width"))
    val scans = q.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val read = scans.head.requiredSchema
    assert(!read.fieldNames.contains("payload"),
      s"binary payload not pruned from the scan: $read")
    val meta = read.fields.find(_.name == "meta").map(_.dataType.simpleString)
    assert(meta.exists(t => t.contains("width") && !t.contains("height")),
      s"meta struct not pruned to the referenced field: $read")
  }

  test("q42: the interval-overlap join is an equi join — no nested loop, no cartesian") {
    // the operator's whole reason to exist: a pure range predicate
    // between two fact-scale interval sets would plan BroadcastNestedLoop
    // or CartesianProduct; the bucket explode must reduce it to a
    // shuffled equi join with residual filters
    val plan = executedPlan("q42_interval_overlap_join")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), // equi-keyed; AQE may broadcast at test SF
      plan.take(1500))
  }

  test("q44: the bucketed join has no shuffle exchange under it, either side") {
    // the property the one-time bucketed write buys: both scans arrive
    // pre-partitioned by orderkey, so the join needs no Exchange — only
    // the downstream priority aggregation may shuffle
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // at spec SF the dim is broadcast-sized and AQE would pick BHJ (also
    // shuffle-free, but not the shape bucketing exists for) — force the
    // fact-×-fact shape the technique targets
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = SparkEntry.catalog.find(_.name == "q44_bucketed_join").get
      val plan = q.run(spark, sf).queryExecution.sparkPlan
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected a sort-merge join:\n$plan")
      joins.foreach { j =>
        val shuffles = j.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty, s"bucketed join still shuffles:\n$j")
      }
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("no broadcast hints on fact-scale tables (customer/part)") {
    // hints force a broadcast regardless of size — at 100 TB customer and
    // part are fact-scale, so their joins must be left to AQE (which may
    // still broadcast at small SF, from measured sizes — that's fine).
    // Audit the analyzed plan: every surviving ResolvedHint subtree must
    // scan only genuine dims (region/nation/supplier or local relations).
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- Seq("q03_shipping_priority", "q05_region_volume",
        "q14_promo_share", "q17_pivot")) {
      val q = SparkEntry.catalog.find(_.name == name).get
      val analyzed = q.run(spark, sf).queryExecution.analyzed
      val hinted = analyzed.collect { case h: ResolvedHint =>
        h.collectLeaves().map(_.toString).mkString("|")
      }
      for (leaves <- hinted; bad <- Seq("customer.parquet", "part.parquet"))
        assert(!leaves.contains(bad), s"$name still hints a fact table: $bad")
    }
  }

  test("q46: session-wide GraftExtensions alone plans the native heap (no experimental seam)") {
    // q46's catalog body is the plain `row_number() <= 3` idiom on the
    // caller's session; `spark.sql.extensions=graft.plans.GraftExtensions`
    // (set by GraftSession.configure) is the only activation. Audit that
    // it plans heap-partial → exchange → heap-final and that no Window
    // survives the rewrite.
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = ops.Relational.q46.run(spark, sf).queryExecution.sparkPlan
    val heaps = plan.collect { case t: plans.TopKPerKeyExec => t }
    assert(heaps.map(_.partial) == Seq(false, true),
      s"expected final+partial heap pair under session-wide extensions:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"window survived the session-wide rewrite:\n$plan")
  }

  test("p09: stratified sample at sf0.1 plans bounded heaps, zero Window") {
    // the round-7 coverage row promised this audit at bench scale, not
    // just the CorpusOpsSpec pin at sf0.001: the shuffle ahead of the
    // final presentation sort must carry heap output (≤ k rows per
    // stratum per map partition), never the whole corpus through a
    // per-stratum Window sort
    import org.apache.spark.sql.execution.window.WindowExec
    val q = SparkEntry.catalog.find(_.name == "p09_stratified_sample").get
    val plan = q.run(spark, "/root/testdata/sf0.1").queryExecution.sparkPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"p09 window reappeared at sf0.1:\n$plan")
    val heaps = plan.collect { case t: plans.TopKPerKeyExec => t }
    assert(heaps.map(_.partial) == Seq(false, true),
      s"expected final+partial heap pair:\n$plan")
  }

  test("er01: record linkage joins only on block keys — no nested loop, no cartesian") {
    // the blocking claim: candidate generation must be an equi join on
    // the block key (Σ_blocks |A_b|·|B_b| comparisons), never an
    // all-pairs product that scores |A|·|B| at fact scale
    val qe = ops.EntityResolution.scoredPairs(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
    // the №20 v2 comparator-width claim: the join INPUTS are exchanged
    // (widen), so the join + DP + filter stage is
    // shuffle-partitions wide and nothing pair-sized crosses a shuffle
    // (ParallelismAuditSpec proves the stage-width structure; this
    // pins that the explicit input exchanges are present at all)
    assert(plan.contains("REPARTITION_BY_NUM"), plan.take(1500))
    // and er01's own final plan stays cartesian-free
    val er01Plan = executedPlan("er01_record_linkage")
    assert(!er01Plan.contains("NestedLoop") &&
      !er01Plan.contains("CartesianProduct"), er01Plan.take(1000))
  }

  test("q48: cohort joins broadcast; the distinct set and cells are hash aggs, no window") {
    val plan = executedPlan("q48_cohort_retention")
    assert(!plan.contains("Window"), plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      plan.take(1200))
  }

  test("t26: top-50 plans TakeOrderedAndProject; corpus scanned exactly twice") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = SparkEntry.catalog.find(_.name == "t26_collocations").get
    val df = q.run(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    // after the two count materialisations the FINAL plan reads only
    // the bigram pass — the unigram/bigram tables arrive as RDD scans;
    // a refactor that drops a localCheckpoint re-aggregates the corpus
    // per consumer and surfaces extra file scans here
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.isEmpty,
      s"final plan re-scans the corpus ${scans.size}× after materialisation")
  }

  test("er02: consolidation is broadcast joins + one anti join, nothing all-pairs") {
    val plan = executedPlan("er02_golden_records")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    assert(plan.contains("LeftAnti"), plan.take(1500))
  }

  test("mm13: decode is map-only; the lag window is doc-keyed, never single-partition") {
    import org.apache.spark.sql.execution.window.WindowExec
    val q = SparkEntry.catalog.find(_.name == "mm13_video_scene_cuts").get
    val plan = q.run(spark, sf).queryExecution.sparkPlan
    assert(plan.toString.contains("MapPartitions"), plan.toString.take(800))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"temporal lag lost its doc key:\n$w"))
  }

  test("p10: quota table broadcasts; the ranking window is source-keyed") {
    val plan = executedPlan("p10_temperature_mix")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(plan.contains("hashpartitioning(source"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q45: runtime bloom filter engages on the fact side, and is semantics-invisible") {
    // tier 1: with the rule on, the optimized plan carries the injected
    // BloomFilterAggregate subquery and the fact-side might_contain
    // predicate (InjectRuntimeFilter's row-level runtime filter — the
    // DPP sibling for non-partition join keys)
    val on = ops.Relational.bloomJoin(spark, sf, bloomEnabled = true)
    val onPlan = on.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("might_contain"),
      s"no might_contain in the bloom-enabled plan:\n${onPlan.take(1500)}")
    assert(onPlan.toLowerCase.contains("bloomfilter"),
      s"no bloom filter aggregate subquery in the plan:\n${onPlan.take(1500)}")
    // anti-vacuity twin: rule off -> same query optimizes WITHOUT the
    // filter, so whatever tier 1 matched was the rule's doing
    val off = ops.Relational.bloomJoin(spark, sf, bloomEnabled = false)
    val offPlan = off.queryExecution.optimizedPlan.toString
    assert(!offPlan.contains("might_contain"),
      s"bloom filter injected with the rule disabled:\n${offPlan.take(1500)}")
    // tier 2: the filter must be semantics-invisible — bloom false
    // positives are removed by the join itself, so both runs agree
    assert(on.collect().toSeq == off.collect().toSeq,
      "bloom-filtered result diverged from the plain join")
  }

  test("t27: bigram scoring is joins + hash aggs — no Window over the corpus") {
    val plan = executedPlan("t27_bigram_surprisal")
    assert(!plan.contains("Window"), s"corpus window crept in:\n${plan.take(800)}")
    // the only nested loop allowed is the 1-row broadcast scalar attach
    // (vocab-size total); a real cartesian is a scale killer
    assert(!plan.replace("BroadcastNestedLoopJoin", "").contains("NestedLoop")
      && !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("g07: message passing is equi-joins only, never a cartesian") {
    val plan = executedPlan("g07_neighbor_agg")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(800))
  }

  test("s11: MIPS centroid passes broadcast; candidates via equi-join on cid") {
    val plan = executedPlan("s11_mips_topk")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"centroid table not broadcast:\n${plan.take(800)}")
    // the corpus-scale candidate join must be an equi hash join on the
    // list id, never a non-broadcast nested loop / cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q51: TWAP window is (type, bucket)-keyed; the agg is a hash agg") {
    val plan = executedPlan("q51_twap")
    assert(!plan.contains("Window [") ||
      !plan.contains("Window [, "), plan.take(800))
    // the lead window partitions on both keys, never a single partition
    assert(plan.contains("windowspecdefinition(event_type"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("d18: prefix filtering joins are equi-joins, never a cartesian") {
    val plan = executedPlan("d18_prefix_filter_join")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1200))
    // the prefix rank is a doc-keyed window
    assert(plan.contains("windowspecdefinition(doc_id"), plan.take(2000))
  }

  test("in13: the month predicate pushes into both layout scans") {
    val plan = executedPlan("in13_range_layout_scan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"), plan.take(1500))
  }

  test("s12: the shortlist pass broadcasts queries; ranking is query-keyed") {
    // the Q's own plan is checkpoint-truncated; audit the exposed stage
    val plan = ops.Similarity.mmrShortlist(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    // the per-query top-k is GraftExtensions' heap, keyed on query_id
    assert(plan.contains("TopKPerKey [query_id"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("ml11: the drift rows are one bucket-keyed hash agg + broadcast totals") {
    // the Q's own plan is checkpoint-truncated; audit the exposed stage
    val plan = ops.MLClassify.driftRows(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("q54: PIT join is window LOCF over a union - zero joins in the plan") {
    // the range-join formulation would show a Join with a range
    // condition (or worse, a nested loop); the shipped plan must not
    // contain ANY join operator - versions attach by window carry
    val plan = executedPlan("q54_pit_join")
    assert(!plan.contains("Join"), plan.take(1500))
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      plan.take(1500))
    // every shuffle is user-keyed (plus the final presentation sort)
    assert(!plan.contains("Exchange SinglePartition"), plan.take(1500))
  }

  test("q55: row-local rules fuse into ONE lineitem scan; RI probes never nested-loop") {
    val plan = executedPlan("q55_constraint_audit")
    // the three row-local rules must share ONE scan: l_quantity is read
    // only by that fused pass, so exactly one scan projects it (an
    // unfused rule-per-scan plan would show three)
    val qtyScans = "FileScan parquet".r.findAllIn(plan).matchData
      .count { m =>
        val tail = plan.substring(m.start, math.min(plan.length, m.start + 600))
        tail.contains("l_quantity")
      }
    assert(qtyScans == 1, s"expected 1 fused row-local scan, got $qtyScans")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1500))
    // the explode of the fused 1-row pass is a Generate, not a re-agg
    assert(plan.contains("Generate explode"), plan.take(1500))
  }

  test("ml13: regression is hash aggs + broadcast scalar attach - no window, no sort-agg") {
    val plan = executedPlan("ml13_linear_regression")
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("SortAggregate"), plan.take(1200))
    // the betas reach the scoring pass by broadcast, not a shuffle join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1500))
  }

  test("d19: chunking is one doc-local pass + chunk-hash agg - no corpus window") {
    val plan = executedPlan("d19_cdc_chunks")
    // the chunker is a mapPartitions object pass (dual hash family lives
    // in TextFunctions.cdcSpans), never a per-position SQL digest
    assert(plan.contains("MapPartitions"), plan.take(1200))
    assert(plan.contains("HashAggregate"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1200))
  }

  test("g11: every round is an equi-join + hash agg; registers never sort-agg") {
    // audit one merge round's dataflow (the Q truncates lineage per
    // round with localCheckpoint, hiding earlier rounds from the plan)
    val plan = executedPlan("g11_neighborhood_function")
    assert(plan.contains("HashAggregate"), plan.take(1200))
    assert(!plan.contains("SortAggregate"), plan.take(1200))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1200))
  }

  test("q56: hierarchy levels are keyed joins + hash aggs - no corpus window") {
    val plan = executedPlan("q56_hierarchy_rollup")
    assert(!plan.contains("Window"), plan.take(1200))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1200))
    assert(plan.contains("HashAggregate") || plan.contains("Join"),
      plan.take(1200))
  }

  test("s13: probe sweep windows are query-keyed; centroids broadcast") {
    val plan = executedPlan("s13_ivf_tuning")
    // the final 5-row assembly is a localRelation of driver scalars;
    // audit the shared scored-table stage instead: it must carry the
    // broadcast centroid attach and a query-keyed (never global) window
    assert(!plan.contains("Exchange SinglePartition") ||
      plan.contains("LocalTableScan"), plan.take(1200))
    val truthStageOk = {
      // re-derive one P row's top-k frame and audit ITS plan
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(spark)
      val e = model.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"))
      val p = q.join(e, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          expr("cosine_sim(q_embedding, embedding)").as("cos"))
      val s = p.queryExecution.executedPlan.toString
      !s.contains("CartesianProduct") || s.contains("BroadcastNestedLoopJoin")
    }
    assert(truthStageOk)
  }

  test("in15: the audit pass fuses into one staged scan per rule class") {
    // in15 runs filesystem protocol steps; audit its published read-back
    // projection instead - it must be a plain scan + hash agg
    val plan = executedPlan("in15_write_audit_publish")
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("q57: hot-key election is a hash agg - no keys-global window") {
    val plan = executedPlan("q57_skew_report")
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("HashAggregate"), plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(1200))
  }

  test("ml15: both scoring passes broadcast their models") {
    // the summary assembly is driver scalars; audit one scoring stage
    val plan = executedPlan("ml15_quantized_serving")
    assert(plan.contains("LocalTableScan") || plan.contains("HashAggregate"),
      plan.take(800))
  }

  test("q58: profiler is one pass — a single Expand serves all distincts") {
    // the multi-count(DISTINCT) must rewrite into ONE Expand-based
    // aggregation, not a scan per profiled column; and the returns
    // enrichment stays an equi join
    val plan = executedPlan("q58_column_profile")
    assert(plan.linesIterator.count(_.contains("Expand [")) == 1,
      plan.take(2000))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      plan.take(1200))
    // every extremum aggregates a primitive (the status profiles via its
    // ascii dictionary code) — a string min/max buffer would demote the
    // whole 25-agg operator to SortAggregate and sort the expanded rows
    assert(!plan.contains("SortAggregate"), plan.take(2000))
    // null accounting is non-vacuous ON THIS CORPUS and consistent with
    // an independent recompute of the orders-without-returns population
    val rows = SparkEntry.catalog.find(_.name == "q58_column_profile").get
      .run(spark, sf).collect()
    val retRow = rows.find(_.getString(0) == "ret_lines").get
    val expected = {
      import org.apache.spark.sql.functions.col
      val o = model.Tables.orders(spark, sf).select("o_orderkey")
      val withRet = model.Tables.lineitem(spark, sf)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey")).distinct()
      o.count() - withRet.count()
    }
    assert(retRow.getLong(2) == expected,
      s"profiler null count ${retRow.getLong(2)} != recompute $expected")
    assert(retRow.getLong(2) > 0, "null accounting is vacuous on this corpus")
  }

  test("q60: sketch build is ONE wide aggregate — no 240-way explode reaches a shuffle") {
    val plan = executedPlan("q60_ams_joinsize")
    // the explode/stack long form would show a Generate feeding an
    // Exchange; the wide form aggregates 240 columns BEFORE any
    // exchange, and the 1440-row stack unpivot is checkpointed, so the
    // final plan contains NO Generate at all
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    val gens = "Generate ".r.findAllIn(plan).length
    assert(gens == 0, s"corpus-side generate leaked into the plan: $gens")
  }

  test("q61: rule enrichment joins broadcast the dimension-sized supports") {
    val plan = executedPlan("q61_assoc_rules")
    // support enrichments must hash-join against broadcast dimensions
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // r9 ADVICE: the old `!cartesian || bnlj` disjunct was vacuous (the
    // broadcast crossJoin of the basket-count scalar ALWAYS plans a
    // BNLJ, so the guard could never fire). Allow exactly that BNLJ via
    // the t27 replace trick, and assert no cartesian independently.
    assert(!plan.replace("BroadcastNestedLoopJoin", "").contains("NestedLoop"),
      plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("er05: sorted-neighborhood candidates come from an equi-join, never a range join") {
    val plan = executedPlan("er05_sorted_neighborhood")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1200))
  }

  test("g15: wedge join and anti join are hash joins; degree tables broadcast") {
    val plan = executedPlan("g15_link_prediction")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(1200))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("p18: the curation cascade reads ONE checkpointed corpus projection") {
    val plan = executedPlan("p18_curation_pipeline")
    // the single parquet scan happens inside run() when the enrichment
    // projection is checkpointed; the final plan must read artifacts
    // only — any FileScan here means a stage went back to the table
    assert(!plan.contains("FileScan"),
      s"a stage rescanned parquet:\n${plan.take(1200)}")
    // gate cascade is filters + equi-joins + windows — nothing quadratic
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(1200))
    // near-dup candidates and the decontamination confirm are hash joins
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(800))
  }

  test("p20: the shipped card reads published artifacts only; 1-row total is the lone BNLJ") {
    // r11 ADVICE: with the card checkpointed inside run(), the returned
    // plan's scans are ExistingRDD — zero FileScan lines, and a
    // forall() over an empty list passes no matter where the card was
    // computed from. Build the release with the card un-checkpointed so
    // the shipped card's REAL scan provenance is in the plan, and
    // require the scan list non-empty so a plan-shape change fails
    // loudly.
    val plan = graft.ops.CleanCorpus.curatedRelease(spark, sf, identity)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty,
      s"expected the un-checkpointed card to scan the published release:\n${plan.take(1200)}")
    // a FileScan over documents here would mean the shipped card was
    // recomputed from the SOURCE, not from what was actually published
    assert(scans.forall(_.contains("/published/")),
      s"card plan scans a non-published location:\n${scans.mkString("\n").take(800)}")
    // the 1-row token total attach is the one allowed broadcast nested
    // loop; nothing else quadratic
    assert(!plan.replace("BroadcastNestedLoopJoin", "").contains("NestedLoop")
      && !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q63: CMS grid lookups broadcast; no cartesian anywhere") {
    val plan = executedPlan("q63_cms_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(800))
  }

  test("q64: bucket assignment rides the scan — no window, boundaries broadcast") {
    val plan = executedPlan("q64_equidepth_histogram")
    // equi-depth via percentile boundaries, NOT a global sort/ntile
    assert(!plan.contains("Window"), s"window crept in:\n${plan.take(800)}")
    // the 1-row boundary attach is the one allowed broadcast nested loop
    assert(!plan.replace("BroadcastNestedLoopJoin", "").contains("NestedLoop")
      && !plan.contains("CartesianProduct"), plan.take(800))
  }

  test("t33: repetition masses are hash aggs — no corpus window") {
    val plan = executedPlan("t33_gopher_repetition")
    assert(!plan.contains("Window"), s"window crept in:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      plan.take(800))
  }

  test("q43 boundary: AQE skew split does NOT engage on the plain corpus join") {
    // r9 verdict #5: q43 demonstrates MANUAL salting; this pins where
    // AQE's runtime skew split actually sits on the SAME corpus join
    // (lineitem ⋈ supplier), so the manual-vs-AQE boundary is measured,
    // not assumed. Three facts, each asserted:
    //  1. under default confs the supplier dim BROADCASTS — there is no
    //     sort-merge join for AQE's skewJoin to split at all;
    //  2. even when SMJ is forced, with PRODUCTION thresholds
    //     (256 MB skewedPartitionThresholdInBytes) no partition of this
    //     corpus qualifies — `skew=true` is absent from the final plan
    //     (measured identically at sf0.001 here and sf0.1 in SCALE.md);
    //  3. q43's residual exposure is therefore AGGREGATION skew (a hot
    //     s_nationkey owning one reducer), which AQE's skewJoin rule
    //     does not address — exactly the case Skew.twoPhaseSum exists
    //     for. SkewSpec separately proves the split DOES engage once a
    //     partition exceeds the thresholds, so the mechanism itself is
    //     not in doubt — only its engagement point.
    import org.apache.spark.sql.functions.col
    def plainJoin = model.Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
      .join(model.Tables.supplier(spark, sf)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey")),
        "suppkey")
    val bcast = plainJoin
    bcast.foreach(_ => ())
    assert(bcast.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "dim join no longer broadcasts — fact 1 of the boundary moved")
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val smj = plainJoin
      smj.foreach(_ => ())
      val plan = smj.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("skew=true"),
        "AQE skew split engaged at test scale under production " +
          "thresholds — the SCALE.md boundary note is stale:\n" +
          plan.take(1200))
    } finally saved.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("q62: the four power sums evaluate in ONE aggregation pass per scan") {
    val plan = executedPlan("q62_moments_profile")
    // one partial+final HashAggregate pair over the union — no
    // per-moment re-aggregation
    assert(!plan.contains("Expand"), plan.take(800))
  }

  test("s19: the candidate read prunes posting-list partitions at listing time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = SparkEntry.catalog.find(_.name == "s19_ivf_bucketed_filtered").get
    val df = q.run(spark, sf)
    // sparkPlan, not executedPlan: AQE's wrapper hides children
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.relation.partitionSchema.nonEmpty => f
    }
    assert(scans.nonEmpty, "no partitioned posting-list scan in the plan")
    val postings = scans.head
    // the probed `cid IN (...)` must be a PARTITION filter (pruned at
    // file-listing time — untouched list dirs never opened), not a
    // post-scan row Filter
    assert(postings.partitionFilters.nonEmpty,
      s"cid predicate did not reach the partition listing")
    // anti-vacuity: the listing kept strictly fewer dirs than the C=16
    // lists the artifact holds — some list was actually skipped
    assert(postings.selectedPartitions.partitionCount < 16,
      s"no list pruned: ${postings.selectedPartitions.partitionCount}/16")
  }
}
