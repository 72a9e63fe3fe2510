package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ops.NewsPipeline

/** Structured Streaming tier (SURVEY.md §2.8): the reference's streaming
  * classification job plus the [EXT] watermark/window/stateful operators,
  * re-expressed on `readStream`/`writeStream`.
  *
  * Design decisions vs the reference
  * (`news-processing/news_categorization_streaming.py`):
  *  - classification is a stateless Catalyst projection
  *    ([[NewsPipeline.classify]]), so the streaming plan is map-only and
  *    scales with source parallelism — no Python worker hop, no
  *    per-row side effects;
  *  - persistence happens in `foreachBatch`, one parquet file set per
  *    micro-batch under `batch_id=<id>/`, replacing the reference's
  *    per-row Mongo insert inside the transform (lineage-invisible —
  *    `:88-91`). A replayed batch overwrites its own directory, so the
  *    sink is exactly-once per batch id;
  *  - checkpoint location is stable, not timestamp-suffixed (`:32`), so
  *    restarts actually recover.
  *
  * Event/message case classes carry `Timestamp` event time so
  * `MemoryStream[T]` drives every operator in tests with manually
  * advanced event time.
  */
object StreamOps {

  /** State-partition knob — SCALE.md №21's measured lesson made
    * executable (r15 verdict ask #5): state-store commit cost scales
    * with the number of SHUFFLE PARTITIONS, not state volume (st01's
    * window measured 3.4 k rows/s at 32 state partitions vs 9.5 k at
    * 8 on the same box), so the engine default (partitions = cores)
    * is wrong for small-state streams. Set this conf and every query
    * started through the builders below pins its stateful shuffle
    * width to it; Structured Streaming then freezes the value into
    * the checkpoint at first start (`OffsetSeqMetadata`), so restarts
    * keep it regardless of the session's batch setting. */
  val StatePartitionsKey = "spark.graft.stream.statePartitions"

  /** Starts a streaming query with `spark.sql.shuffle.partitions`
    * overridden by [[StatePartitionsKey]] (when set) for the duration
    * of the `.start()` call only — the started query's CLONED session
    * captures the override (that is `DataStreamWriter.start`'s session
    * -isolation contract), while the caller's batch session is
    * restored immediately. `StreamingSpec` pins that the conf reaches
    * the started plan's state operator. */
  def startPinned(spark: SparkSession)(
      start: => StreamingQuery): StreamingQuery =
    spark.conf.getOption(StatePartitionsKey) match {
      case Some(n) =>
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, n)
        try start finally spark.conf.set(key, prev)
      case None => start
    }

  case class Message(message: String, ts: Timestamp)
  case class UserEvent(user_id: Long, event_type: String, value: Double,
      ts: Timestamp)
  case class UserRunningCount(user_id: Long, n_events: Long,
      total_value: Double)

  /** The reference's streaming tier: value → message → classify.
    * Stateless; works identically on any streaming or batch frame with a
    * string `value` column (`selectExpr` cast mirrors
    * `news_categorization_streaming.py:57`). */
  def classifyStream(raw: DataFrame): DataFrame =
    NewsPipeline.classify(
      raw.selectExpr("CAST(value AS STRING) AS message"), textCol = "message")

  /** The static tier dimension for [[enrichEvents]] — the
    * enrichment-side table a deployment would load from a catalog.
    * `error` is deliberately unmapped so the left join's miss path is
    * always exercised. Weights are DECIMAL(4,2) so the enriched value
    * arithmetic is exact in both engines. */
  def tierDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("click", "engagement", "1.50"), ("view", "engagement", "0.25"),
      ("purchase", "revenue", "3.00"), ("signup", "growth", "2.00"))
      .toDF("event_type", "tier", "w")
      .select(col("event_type"), col("tier"),
        col("w").cast("decimal(4,2)").as("weight"))
  }

  /** Stream–static enrichment join: each micro-batch of the stream
    * left-joins the small static dimension, which Spark broadcasts —
    * the fact stream never shuffles, misses surface as `untiered` /
    * weight 0. This is THE standard streaming lookup pattern (the
    * reference's category→channel routing map is its batch ancestor);
    * at scale the dim is re-broadcast per restart, not per record, and
    * a slowly-changing dim swaps in via checkpoint restart. Works
    * identically on a batch frame — st07 is the oracled twin. */
  def enrichEvents(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        coalesce(col("tier"), lit("untiered")).as("tier"),
        (col("value").cast("decimal(18,2)") *
          coalesce(col("weight"), lit(0).cast("decimal(4,2)")))
          .cast("double").as("weighted_value"))

  /** Watermarked tumbling-window aggregation over a user-event stream:
    * append-mode output as windows finalise; state bounded by watermark. */
  def windowedCounts(events: Dataset[UserEvent]): DataFrame =
    events.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked session windows (30-minute gap) per user. */
  def sessionCounts(events: Dataset[UserEvent]): DataFrame =
    events.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** File-source form of the session-window aggregation, checkpointable
    * for kill-and-resume. Session state is the one stateful class the
    * other recovery pins don't cover: windows MERGE — an event landing
    * inside an open session's gap horizon extends that session rather
    * than opening a new one, so a correct resume must restore both the
    * open session's extent and its running count, then keep merging into
    * them. Expects (user_id, ts, event_type, value). */
  def sessionCountsStream(events: DataFrame, outDir: String,
      ckpt: String): StreamingQuery = {
    val s = events.sparkSession
    import s.implicits._
    startPinned(s)(sessionCounts(events
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[UserEvent]).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start())
  }

  /** Per-window top-k ranking stage of the trending operator — shared
    * VERBATIM by [[trendingTopKStream]]'s foreachBatch sink and the
    * st11 batch twin. The window is keyed by `window_start` (never
    * corpus-global), ties break deterministically on event_type. */
  def trendingTopK(windowCounts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("window_start")
      .orderBy(col("n").desc, col("event_type"))
    windowCounts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** OHLC bar aggregation — shared VERBATIM by the streaming form and
    * the st12 batch twin (the watermark node is erased in batch mode).
    * Expects (event_id, ts, event_type, value); open/close tie-break by
    * the packed integer key `micros·10¹⁸ + event_id` — exact DECIMAL
    * arithmetic keeps min_by/max_by hash-aggregable (the q37 audit
    * finding; a string key would force a SortAggregate). In streaming
    * this is a plain watermarked windowed aggregation: min_by/max_by
    * partials are O(1) state per open bar, bars emit in APPEND mode as
    * the watermark finalises them. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val key = expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DECIMAL(38,0))" +
      " * 1000000000000000000 + event_id")
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).cast("long").as("volume"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  /** Streaming OHLC resampling: finalised bars append straight to
    * parquet — no foreachBatch stage needed (unlike trending top-k,
    * the bar itself is the streaming aggregate). */
  def ohlcBarsStream(events: DataFrame, outDir: String,
      ckpt: String): StreamingQuery =
    startPinned(events.sparkSession)(ohlcBars(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start())

  /** Daily distinct actives (DAU) — shared VERBATIM by the streaming
    * form and the st13 batch twin. The streaming plan CHAINS two
    * stateful operators in append mode (supported since Spark 3.5's
    * multi-stateful pipelines): `dropDuplicatesWithinWatermark` holds
    * one row per (user, day) seen inside the watermark horizon — the
    * expensive distinct state — and the downstream 1-day tumbling count
    * then aggregates already-unique rows, O(1) per open day. Batch mode
    * rejects the within-watermark form outright
    * (`UnsupportedOperationChecker`), so the one mode branch below picks
    * the batch-equivalent plain distinct — the "watermark node erased in
    * batch" contract the other twins rely on, spelled explicitly. The
    * 7-day ROLLING rollup
    * deliberately stays out of the stream: it is a trivial batch
    * rollup over this sink's daily layer — q38's bounded-explode form —
    * recomputable any time without 7 days of streaming state. Expects
    * (user_id, ts). */
  def dailyActives(events: DataFrame): DataFrame = {
    val dayed = events
      .withWatermark("ts", "1 day")
      .withColumn("day_ts", date_trunc("DAY", col("ts")))
    val deduped =
      if (events.isStreaming)
        dayed.dropDuplicatesWithinWatermark("user_id", "day_ts")
      else dayed.dropDuplicates("user_id", "day_ts")
    deduped
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).cast("long").as("active_users"))
      .select(col("window.start").as("day"), col("active_users"))
  }

  /** Streaming DAU: finalised daily counts append straight to parquet
    * as the watermark closes each day. */
  def dailyActivesStream(events: DataFrame, outDir: String,
      ckpt: String): StreamingQuery =
    startPinned(events.sparkSession)(dailyActives(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir)
      .start())

  /** Streaming Count-Min sketch maintenance — a different streaming
    * shape from every windowed/keyed aggregation above: a GLOBAL
    * aggregation whose state cardinality is structurally bounded at
    * depth×width cells no matter how much data flows (the sketch IS the
    * state — no watermark needed, nothing ever expires), so COMPLETE
    * output mode is safe and every trigger emits the whole
    * current sketch. This is how a live heavy-hitters dashboard keeps
    * its estimate without a vocabulary-sized state store; the batch
    * twin (st14) and t17's sketch stage run the SAME
    * [[graft.ops.TextAnalysis.cmsCells]] function. Expects a `token`
    * column. */
  def cmsCellsStream(tokens: DataFrame, queryName: String): StreamingQuery =
    startPinned(tokens.sparkSession)(
      graft.ops.TextAnalysis.cmsCells(tokens).writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .start())

  /** Streaming HLL maintenance — st14's bounded-state shape applied to
    * CARDINALITY: the state is the 256-register table of
    * [[graft.ops.Relational.hllRegisters]] (a global groupBy-max whose
    * cardinality is structurally capped at m registers no matter how
    * many distinct keys flow), so COMPLETE mode is safe and every
    * trigger emits the whole current sketch. This is the live
    * distinct-users counter that needs no user-sized state store; the
    * batch twin (st15) and q10c run the SAME register derivation.
    * Expects the named key column on `src`. */
  def hllRegistersStream(src: DataFrame, column: String,
      queryName: String): StreamingQuery =
    startPinned(src.sparkSession)(
      graft.ops.Relational.hllRegisters(src, column).writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .start())

  /** Streaming histogram-quantile maintenance — the sketch trio's third
    * member (st14 CMS / st15 HLL / this): q19c's fixed-boundary value
    * cells maintained live over `(event_type, value)` rows. State is
    * capped at value-range/width cells per type, so COMPLETE mode emits
    * the whole current sketch each trigger and any quantile is one walk
    * over the emitted table. Batch twin: `EventStreams.st16`. */
  def valueHistStream(src: DataFrame, queryName: String): StreamingQuery =
    startPinned(src.sparkSession)(
      graft.ops.EventStreams.valueHistCells(src).writeStream
        .outputMode(OutputMode.Complete())
        .format("memory").queryName(queryName)
        .start())

  /** Streaming trending top-k — the dashboard query ("most frequent
    * event types per hour, live"). Ranking inside a streaming
    * aggregation is unsupported, so the production shape is: watermarked
    * tumbling counts finalise in APPEND mode, and each finalised batch
    * passes through the SAME [[trendingTopK]] stage inside foreachBatch
    * before [[writeBatch]]. Correct because append mode
    * emits every (window, type) row of a window in the single
    * micro-batch whose watermark passes the window end — ranking per
    * batch IS ranking per window (multiple windows closing together are
    * separated by the partitionBy). */
  def trendingTopKStream(events: Dataset[UserEvent], k: Int,
      outDir: String, ckpt: String): StreamingQuery =
    startPinned(events.sparkSession)(windowedCounts(events).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        writeBatch(trendingTopK(df, k), outDir, batchId)
      }
      .start())

  /** Custom state: running per-user totals via `mapGroupsWithState` —
    * the engine's `KeyValueGroupedDataset` stateful surface (the [EXT]
    * demo op of SURVEY.md §2.8). State is one struct per user. */
  def runningUserCounts(events: Dataset[UserEvent]): Dataset[UserRunningCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunningCount, UserRunningCount](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunningCount]) =>
          val prev = state.getOption.getOrElse(UserRunningCount(uid, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRunningCount(uid, n, total)
          state.update(next)
          next
      }
  }

  /** Stream-stream interval join: each purchase joins the same user's
    * clicks from the preceding 10 minutes. Both sides carry watermarks so
    * the join state is bounded — Spark retains click state only within
    * the interval + watermark, the invariant that keeps a day-scale
    * stream joinable at all. Equi-key (user_id) + time-range condition →
    * state shuffles on user_id. */
  def clicksBeforePurchase(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame = {
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"), col("click_value"))
  }

  /** Streaming LAST-TOUCH attribution — the join→AGGREGATION
    * chained-stateful class (st13 chains dedup→agg; this chains the
    * interval JOIN into a windowed aggregation, the remaining
    * multi-stateful pipeline shape Spark 3.5+ unlocked): every purchase
    * joins its preceding-10-minute clicks ([[clicksBeforePurchase]] —
    * the SAME join, watermarks and all) and then reduces to one row per
    * purchase — the latest click (lexicographic struct-max on
    * (click_ts, click_value), a supported streaming aggregate where
    * row_number is not; st10's discipline) plus the touch count. The
    * aggregation groups by the purchase's event-time window, so in
    * append mode a purchase's attribution emits exactly once, when the
    * watermark passes its window — join state AND agg state both
    * bounded by the watermark horizon. Batch mode runs the identical
    * function (window() degenerates to a plain derived column) — the
    * st05 batch-twin convention, so the oracle checks the attribution
    * semantics cross-engine and the spec pins stream == batch. */
  def lastTouchAttribution(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame =
    clicksBeforePurchase(clicks, purchases)
      // the purchase's exact instant joins the grouping as PLAIN micros:
      // a second watermark-annotated column next to window() is illegal
      // ("at most one event time column"), and the integer form carries
      // the identity without the annotation
      .groupBy(col("user_id"),
        window(col("purchase_ts"), "1 minute"),
        expr("unix_micros(purchase_ts)").as("p_micros"),
        col("purchase_value"))
      .agg(count(lit(1)).as("n_touches"),
        max(struct(col("click_ts"), col("click_value"))).as("last"))
      .select(col("user_id"),
        expr("timestamp_micros(p_micros)").as("purchase_ts"),
        col("purchase_value"),
        col("last.click_ts").as("last_click_ts"),
        col("last.click_value").as("last_click_value"),
        col("n_touches"))

  /** File-source form of the stream-stream interval join, checkpointable
    * for kill-and-resume: one raw event stream splits into click and
    * purchase branches (a self-join of the source — both sides replay
    * from the same source offsets in the checkpoint) and the matches
    * append straight to parquet. Inner-join matches emit in the
    * micro-batch that completes them; unmatched click state is held in
    * the join state store within watermark + interval, which is exactly
    * the state a restart must recover — a purchase arriving after the
    * restart can only match pre-kill clicks if their buffered rows
    * survived the checkpoint round-trip. Expects
    * (user_id, ts, event_type, value). */
  def clicksJoinStream(events: DataFrame, outDir: String,
      ckpt: String): StreamingQuery = {
    val s = events.sparkSession
    import s.implicits._
    def side(t: String) = events.filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[UserEvent]
    startPinned(events.sparkSession)(
      clicksBeforePurchase(side("click"), side("purchase")).writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir)
        .start())
  }

  /** Streaming exact dedup — the streaming twin of the d01 batch op:
    * drop re-occurrences of a content fingerprint, with the state store
    * bounded by the watermark horizon. `dropDuplicatesWithinWatermark`
    * keeps one fingerprint key per unseen doc and EVICTS keys once the
    * watermark passes them — the property that makes an infinite-stream
    * dedup possible at all (plain `dropDuplicates` on a stream grows
    * state forever). Within the horizon dedup is exact; a duplicate
    * arriving later than the horizon is admitted again — the documented
    * trade every watermarked dedup makes. */
  def dedupWithinWatermark(docs: Dataset[Message]): DataFrame =
    docs.toDF()
      .withColumn("fp", md5(col("message")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")

  /** LEFT OUTER variant of the interval join: purchases with no click in
    * the window still emit — but only once the watermark passes the end
    * of their join window, because until then a matching click could
    * still arrive. That deferred null-emission is the semantic
    * difference between batch and stream outer joins, and why both
    * watermarks are mandatory here (inner-join state bounds aside, the
    * outer side cannot emit at all without a horizon). */
  /** LEFT SEMI variant — "which purchases had a prior click", each
    * purchase emitted ONCE regardless of click count (the existence
    * test as a streaming join; with inner/left/full this completes the
    * supported stream-stream join-mode matrix). Same watermarks + time
    * bound, so click state evicts identically; the semi join emits the
    * LEFT row only and buffers no click payload into results. */
  def purchasesWithPriorClick(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame = {
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"), "left_semi")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** LEFT ANTI variant — "which purchases had NO prior click" (the
    * abandonment/anomaly test; with inner/outer/semi this closes the
    * interval-join mode matrix). Structured Streaming does NOT support
    * a native stream-stream anti join, so this is the standard
    * derivation: the watermarked LEFT OUTER join, then `IS NULL` on
    * the right side — correct precisely BECAUSE the outer join defers
    * its null-emission until the watermark passes the purchase's join
    * window (before that, a matching click could still arrive; the
    * null row is the anti-join verdict, finalised by the horizon).
    * Same watermarks + time bound as the other modes, so click state
    * evicts identically. Runs in batch and streaming; the batch twin
    * (st22) oracles against NOT EXISTS. */
  def purchasesWithoutPriorClick(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame =
    clicksBeforePurchaseOuter(clicks, purchases)
      .filter(col("click_ts").isNull)
      .select(col("user_id"), col("purchase_ts"), col("purchase_value"))

  def clicksBeforePurchaseOuter(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame = {
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"), col("click_value"))
  }

  /** FULL OUTER stream-stream interval join — both unmatched purchases
    * AND unmatched clicks survive (a left-outer keeps only the former,
    * silently dropping click-without-purchase activity). Null rows for
    * EITHER side emit only once the watermark passes that side's join
    * window; state is bounded on both sides by watermark + interval.
    * The join condition must reference both event times or Spark
    * rejects the outer stream-stream join at analysis. */
  def clicksPurchasesFullOuter(clicks: Dataset[UserEvent],
      purchases: Dataset[UserEvent]): DataFrame = {
    val c = clicks.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("purchase_ts"),
      "full_outer")
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("purchase_ts"), col("click_ts"),
        col("purchase_value"), col("click_value"))
  }

  case class ChangeEvent(user_id: Long, event_id: Long, event_type: String,
      value: Double, ts: Timestamp)
  case class KeyState(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double, deleted: Boolean)

  /** CDC changelog apply — the "materialise a change stream into a keyed
    * state store" pattern (q27/q28's streaming ancestor): per key, apply
    * upserts/deletes in (ts, event_id) order with LAST-WRITER-WINS and a
    * monotonic out-of-order guard — an event older than the state's
    * high-water mark is IGNORED, never applied (exactly how a CDC sink
    * must behave under replay/reorder). `event_type = 'error'` models
    * the delete op; everything else upserts `value`.
    *
    * Built on `mapGroupsWithState`, which runs in BOTH batch (whole
    * group, one call, empty initial state) and streaming (incremental
    * state across micro-batches) — so st09's oracled batch twin executes
    * the SAME code path the stream runs, and the streaming spec covers
    * what batch can't: state carry-over and the cross-batch stale-event
    * guard. Emits the current state per key per batch (Update mode);
    * state is one row per live key.
    *
    * Scale note: in batch mode each key's FULL changelog is buffered in
    * one executor call (`rows.toSeq`) — fine for CDC state (streaming
    * groups are per-micro-batch small), but a pure-batch changelog
    * COMPACTION over a 100 TB history should use the window form
    * ([[graft.ops.Relational]] q27 latest-per-key), which never
    * materialises a key's history. This operator's batch mode exists to
    * oracle the streaming path, not to replace q27. */
  def applyChangelog(changes: Dataset[ChangeEvent]): Dataset[KeyState] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .mapGroupsWithState[KeyState, KeyState](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[KeyState]) =>
          // Timestamp.compareTo is nanosecond-precise; getTime is only
          // millisecond-granular and would tie two same-ms events that
          // differ in microseconds, diverging from the oracle's full-µs
          // ordering (event timestamps carry sub-ms components).
          val ordered = rows.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          var cur = state.getOption.getOrElse(
            KeyState(uid, new Timestamp(Long.MinValue), Long.MinValue,
              0.0, deleted = true))
          ordered.foreach { e =>
            val c = e.ts.compareTo(cur.ts)
            val newer = c > 0 || (c == 0 && e.event_id > cur.event_id)
            if (newer) // stale events lose to the high-water mark
              cur = KeyState(uid, e.ts, e.event_id, e.value,
                deleted = e.event_type == "error")
          }
          state.update(cur)
          cur
      }
  }

  case class AsofEnriched(event_id: Long, user_id: Long,
      signup_value: Option[Double])

  /** Streaming as-of enrichment — q20's temporal join class as KEYED
    * STATE (the streaming arm the as-of family lacked; st07 enriches
    * against a STATIC dim, this one against a dimension that arrives ON
    * THE STREAM): per user, the state is the latest signup seen, and
    * every purchase emits exactly once carrying the signup value in
    * force at its event time. Within an invocation rows process in
    * (ts, signup-first, event_id) order, so a signup at the purchase's
    * exact instant is visible to it (q20's tag order); across
    * micro-batches the state carries the high-water signup — fed in
    * event-time order the stream reproduces the batch twin exactly
    * (StreamJoinSpec pins it; out-of-order feeds are the CDC-guard
    * territory of [[applyChangelog]], not silently absorbed here).
    * ⚠ Tie hazard at micro-batch boundaries (r8 ADVICE): the
    * signup-first tie order holds only WITHIN an invocation. If a
    * same-timestamp signup/purchase pair is split across batches with
    * the purchase in the earlier batch, the purchase cannot see the
    * not-yet-arrived signup and the stream diverges from the batch
    * twin — "fed in event-time order" therefore means batches may only
    * split at strict timestamp boundaries (the spec enforces exactly
    * that); a deployment feeding ties across batches needs the
    * event_id-keyed CDC guard instead.
    * State is ONE small struct per user — bounded forever, no
    * watermark needed for correctness, only for state GC of dead keys
    * at deployment. Runs in batch and streaming (the st09 discipline),
    * so the oracled batch twin executes this same code path. */
  def asofEnrich(events: Dataset[ChangeEvent]): Dataset[AsofEnriched] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyState, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[KeyState]) =>
          val ordered = rows.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && {
              val (sa, sb) = (a.event_type == "signup", b.event_type == "signup")
              sa != sb && sa || (sa == sb && a.event_id < b.event_id)
            })
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnriched]
          var cur = state.getOption
          ordered.foreach { e =>
            if (e.event_type == "signup")
              cur = Some(KeyState(uid, e.ts, e.event_id, e.value,
                deleted = false))
            else if (e.event_type == "purchase")
              out += AsofEnriched(e.event_id, uid, cur.map(_.value))
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class SessionSummary(user_id: Long, n_events: Long,
      total_value: Double, closed: Boolean)

  /** Session aggregation with an explicit processing-time TIMEOUT — the
    * state-expiry surface (`GroupStateTimeout`) that `session_window`
    * hides. Each user's open session accumulates; when no events arrive
    * within `timeoutMs`, the timed-out callback fires (`rows` empty,
    * `state.hasTimedOut`), emits the closed session, and clears state —
    * bounding state size by active users, which is what keeps a 100 TB
    * stream's state store finite. */
  def sessionsWithTimeout(events: Dataset[UserEvent], timeoutMs: Long)
      : Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (uid, rows, state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val closed = state.get.copy(closed = true)
            state.remove()
            Iterator.single(closed)
          } else {
            val prev = state.getOption
              .getOrElse(SessionSummary(uid, 0L, 0.0, closed = false))
            var n = prev.n_events
            var total = prev.total_value
            rows.foreach { e => n += 1; total += e.value }
            val next = SessionSummary(uid, n, total, closed = false)
            state.update(next)
            state.setTimeoutDuration(timeoutMs)
            Iterator.single(next)
          }
      }
  }

  case class FunnelStage(user_id: Long, stage: Int)
  case class FunnelState(stage: Int, sinceMicros: Long)

  /** Ordered-milestone funnel as a streaming STATE MACHINE — the
    * MATCH_RECOGNIZE-class sequential-pattern semantics: per user, walk
    * events in event-time order and advance view → click → purchase on
    * the first event matching the NEXT milestone strictly after the last
    * transition and within [[graft.ops.EventStreams.FunnelWindowUs]] of
    * it (the conversion deadline; without it a month-long stream lets
    * every user complete trivially). q30's batch funnel is the
    * first-occurrence variant — its first click must fall after the
    * first view; this machine lets a LATER click qualify, which is what
    * "did the user complete the sequence in time" means. State per user
    * is 2 scalars — stage + the last transition instant — so a 100 TB
    * stream's state store is bounded by active users, never event
    * volume. Within a batch events sort by event time; cross-batch
    * stragglers older than the last transition are inherently late for
    * an online machine and cannot retract it (the batch twin
    * `st19_funnel_stages` is the replayable reference; StreamingSpec
    * pins stream == twin on ordered batches). */
  def funnelStages(events: Dataset[UserEvent]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    val milestones = Array("view", "click", "purchase")
    val win = graft.ops.EventStreams.FunnelWindowUs
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelStage](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
            val m = micros(e.ts)
            if (st.stage < milestones.length &&
                e.event_type == milestones(st.stage) &&
                m > st.sinceMicros &&
                (st.stage == 0 || m <= st.sinceMicros + win))
              st = FunnelState(st.stage + 1, m)
          }
          state.update(st)
          FunnelStage(uid, st.stage)
      }
  }

  /** Writes one micro-batch to `outDir/batch_id=<batchId>`, replacing
    * what an earlier attempt of the same batch left there. */
  private def writeBatch(batch: DataFrame, outDir: String, batchId: Long) =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** The Mongo-replacement sink: classified stream, stamped with
    * `created_at`, → one parquet file set per micro-batch in
    * `outDir/batch_id=<id>/` ([[writeBatch]]). Exactly-once per batch id:
    * a batch replayed after a crash overwrites its own directory. The
    * query is long-lived under the default trigger; the caller stops it. */
  def persistClassified(classified: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    startPinned(classified.sparkSession)(classified.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch.withColumn("created_at", current_timestamp()),
          outDir, batchId)
      }
      .start())
}
