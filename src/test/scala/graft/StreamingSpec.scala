package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, window}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Message, UserEvent}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("streaming classification: MemoryStream -> classify -> memory sink") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamOps.classifyStream(in.toDF())
      .writeStream.format("memory").queryName("classified")
      .outputMode(OutputMode.Append()).start()
    in.addData("spark spark query", "no keywords here at all zzz")
    q.processAllAvailable()
    val out = spark.table("classified")
      .select("message", "category", "confidence")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    q.stop()
    assert(out("spark spark query") == (("technology", 1.0)))
    assert(out("no keywords here at all zzz") == (("unknown", 0.0)))
  }

  test("stream-static enrichment: broadcast dim joins each micro-batch") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamOps.enrichEvents(
        in.toDF().toDF("event_id", "event_type", "value"),
        StreamOps.tierDim(spark))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, "click", 10.0), (2L, "error", 5.0))
    q.processAllAvailable()
    in.addData((3L, "purchase", 2.0)) // second batch re-probes the dim
    q.processAllAvailable()
    val out = spark.table("enriched")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    q.stop()
    assert(out(1L) == (("engagement", 15.0)))
    assert(out(2L) == (("untiered", 0.0))) // unmapped type → miss path
    assert(out(3L) == (("revenue", 6.0)))
  }

  test("streaming near-dup admission: static index probed per micro-batch") {
    // the SAME Dedup.nearDupAdmission st10 oracles in batch, driven from
    // MemoryStream: fingerprints are map-only per batch, candidates come
    // from the stream-static (blk, key) join, best-match is a streaming
    // struct-min aggregation (update mode). The stream's final state
    // must equal the batch twin on the same incoming rows.
    implicit val sql = spark.sqlContext
    val corpus = model.Tables.documents(spark, sf)
      .select("doc_id", "text").localCheckpoint()
    val src = corpus.orderBy("doc_id").limit(2).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val incoming = Seq(
      (9001L, src(0)._2),                 // exact copy → hamming 0
      (9002L, src(1)._2 + " graftnew"),   // mutated copy
      (9003L, "zz qq unrelated wholly"))  // likely no match
    val expected = ops.Dedup.nearDupAdmission(
        incoming.toDF("doc_id", "text"), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val in = MemoryStream[(Long, String)]
    val q = ops.Dedup.nearDupAdmission(
        in.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("admitted")
      .outputMode(OutputMode.Update()).start()
    in.addData(incoming(0), incoming(2))
    q.processAllAvailable()
    in.addData(incoming(1)) // second batch re-probes the static index
    q.processAllAvailable()
    val got = spark.table("admitted").collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => // update mode: latest state = min struct
        val best = rs.map(r => (r.getLong(1), r.getLong(2))).min
        (id, best._1, best._2)
      }.toSet
    q.stop()
    assert(got == expected, s"stream $got vs batch $expected")
    assert(expected.exists { case (id, h, m) =>
      id == 9001L && h == 0L && m == src(0)._1
    }, s"exact copy must match its source at hamming 0: $expected")
  }

  test("CDC apply: upsert/delete state across batches, stale events ignored") {
    import graft.streaming.StreamOps.ChangeEvent
    implicit val sql = spark.sqlContext
    val in = MemoryStream[ChangeEvent]
    val q = StreamOps.applyChangelog(in.toDS())
      .writeStream.format("memory").queryName("cdc")
      .outputMode(OutputMode.Update()).start()
    in.addData(
      ChangeEvent(1, 10, "click", 5.0, ts(0)),
      ChangeEvent(1, 11, "click", 7.0, ts(2)),  // later → wins batch 1
      ChangeEvent(2, 20, "click", 9.0, ts(1)))
    q.processAllAvailable()
    in.addData(
      ChangeEvent(1, 12, "click", 1.0, ts(1)),  // STALE (< hwm ts(2)) → ignored
      ChangeEvent(2, 21, "error", 0.0, ts(3)))  // delete op
    q.processAllAvailable()
    val state = spark.table("cdc")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max_by(
        org.apache.spark.sql.functions.struct("event_id", "value", "deleted"),
        org.apache.spark.sql.functions.col("event_id")).as("s"))
      .select("user_id", "s.event_id", "s.value", "s.deleted")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    q.stop()
    // user 1: the stale batch-2 event did NOT overwrite the ts(2) upsert
    assert(state(1L) == ((11L, 7.0, false)))
    // user 2: tombstoned by the delete op
    assert(state(2L) == ((21L, 0.0, true)))
  }

  test("dedupWithinWatermark drops repeats, keeps state bounded by horizon") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Message]
    val q = StreamOps.dedupWithinWatermark(in.toDS())
      .writeStream.format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      Message("alpha doc", ts(0)),
      Message("alpha doc", ts(1)),   // same content, same batch → dropped
      Message("beta doc", ts(2)))
    q.processAllAvailable()
    in.addData(Message("alpha doc", ts(3)))  // within horizon → dropped
    q.processAllAvailable()
    val out = spark.table("deduped").select("message").as[String].collect()
    q.stop()
    assert(out.sorted.toSeq == Seq("alpha doc", "beta doc"))
  }

  test("statePartitions knob reaches the started query's state operator " +
    "and the batch session is restored") {
    // №21 made executable: state-store commit cost scales with shuffle
    // partitions, so small-state streams get a pinned width via
    // spark.graft.stream.statePartitions — this pins that the conf
    // actually reaches the STARTED plan (the cloned session), not just
    // the builder's intent, and that the caller's batch conf survives.
    implicit val sql = spark.sqlContext
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(StreamOps.StatePartitionsKey, "3")
    try {
      val in = MemoryStream[String]
      val q = StreamOps.cmsCellsStream(
        in.toDF().withColumnRenamed("value", "token"), "pinned_cms")
      in.addData("a", "b", "a")
      q.processAllAvailable()
      val stateOps = q.lastProgress.stateOperators
      q.stop()
      assert(stateOps.nonEmpty, "no state operator in the CMS plan")
      assert(stateOps.head.numShufflePartitions == 3L,
        s"state operator ran at ${stateOps.head.numShufflePartitions} " +
          s"partitions — the №21 knob did not reach the started plan")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == prevShuffle,
        "startPinned leaked the override into the batch session")
    } finally {
      spark.conf.unset(StreamOps.StatePartitionsKey)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  test("watermarked tumbling windows finalise in append mode") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[UserEvent]
    val q = StreamOps.windowedCounts(in.toDS())
      .writeStream.format("memory").queryName("windows")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      UserEvent(1, "click", 1.0, ts(0)),
      UserEvent(1, "click", 2.0, ts(1)),
      UserEvent(2, "view", 5.0, ts(6)))
    q.processAllAvailable()
    // advance event time past watermark (10 min) + window (5 min)
    in.addData(UserEvent(3, "click", 9.0, ts(30)))
    q.processAllAvailable()
    val rows = spark.table("windows").collect()
    q.stop()
    val byKey = rows.map(r => (r.getTimestamp(0), r.getString(1)) ->
      ((r.getLong(2), r.getDouble(3)))).toMap
    assert(byKey((ts(0), "click")) == ((2L, 3.0)))
    assert(byKey((ts(5), "view")) == ((1L, 5.0)))
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[UserEvent]
    val q = StreamOps.runningUserCounts(in.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    in.addData(UserEvent(1, "click", 1.0, ts(0)), UserEvent(1, "view", 2.0, ts(1)))
    q.processAllAvailable()
    in.addData(UserEvent(1, "click", 4.0, ts(2)))
    q.processAllAvailable()
    val last = spark.table("running").collect()
      .filter(_.getLong(0) == 1L).maxBy(_.getLong(1))
    q.stop()
    assert(last.getLong(1) == 3L)
    assert(last.getDouble(2) == 7.0)
  }

  test("trending top-k: stream foreachBatch ranking equals the batch twin") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-trend").toString
    val in = MemoryStream[UserEvent]
    val q = StreamOps.trendingTopKStream(in.toDS(), k = 2,
      s"$dir/out", s"$dir/ckpt")
    val batch1 = Seq(
      UserEvent(1, "click", 1.0, ts(0)), UserEvent(2, "click", 1.0, ts(1)),
      UserEvent(3, "view", 1.0, ts(2)), UserEvent(4, "view", 1.0, ts(3)),
      UserEvent(5, "purchase", 1.0, ts(4)), UserEvent(6, "click", 1.0, ts(4)))
    in.addData(batch1: _*)
    q.processAllAvailable()
    // watermark (10 min) + window (5 min) passed → window [0,5) finalises
    val batch2 = Seq(UserEvent(7, "signup", 1.0, ts(30)))
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/out")
      .select("window_start", "event_type", "n", "rank").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the finalised window must hold exactly k=2 rows, ranked
    // count-desc with the deterministic tiebreak
    assert(streamed == Set(
      (ts(0), "click", 3L, 1L),
      (ts(0), "view", 2L, 2L)))
    // batch twin over the same events (only the finalised window)
    import spark.implicits._
    val counts = (batch1 ++ batch2).toDS().toDF()
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))
    val twin = StreamOps.trendingTopK(counts, 2)
      .filter(col("window_start") === ts(0))
      .select("window_start", "event_type", "n", "rank").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(twin == streamed, "stream ranking must equal the batch twin")
  }

  test("foreachBatch persists classified stream as partitioned parquet") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-persist").toString
    val in = MemoryStream[String]
    val q = StreamOps.persistClassified(
      StreamOps.classifyStream(in.toDF()),
      s"$dir/out", s"$dir/ckpt")
    // each addData block is one input partition, so one file per batch
    in.addData("spark query", "fast slow run")
    q.processAllAvailable()
    in.addData("join merge")
    q.processAllAvailable()
    assert(q.isActive, "the query is long-lived: processAllAvailable must not end it")
    val batchIds = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
    q.stop()
    val batchDirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map { d =>
        d.getName.stripPrefix("batch_id=").toLong ->
          d.list().count(_.endsWith(".parquet"))
      }.toMap
    assert(batchDirs.keySet == batchIds && batchIds.size == 2, batchDirs)
    assert(batchDirs.values.forall(_ == 1), s"one parquet file per batch: $batchDirs")
    val persisted = spark.read.parquet(s"$dir/out")
    assert(persisted.count() == 3)
    assert(persisted.columns.toSet ==
      Set("message", "confidence", "category", "batch_id", "created_at"))
    assert(persisted.select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet == batchIds)
    val cats = persisted.select("category").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats == Set("technology", "sports", "social"))
  }

  test("persist replay: a batch re-run after a crash before its commit overwrites, not appends") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-replay").toString
    val inDir = Paths.get(dir, "in")
    Files.createDirectories(inDir)
    Files.write(inDir.resolve("docs.json"),
      (0 until 100).map(i => s"""{"value": "spark query doc $i"}""")
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    def persistAll(): Unit = {
      val q = StreamOps.persistClassified(
        StreamOps.classifyStream(
          spark.readStream.schema("value STRING").json(inDir.toString)),
        s"$dir/out", s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    def files() = Option(new java.io.File(s"$dir/out/batch_id=0").list())
      .toSet.flatten.filter(_.endsWith(".parquet"))
    persistAll()
    assert(spark.read.parquet(s"$dir/out").count() == 100)
    val firstWrite = files()
    // a crash between the sink write and the checkpoint commit: batch 0's
    // offsets are logged, its commit is not
    val commit = Paths.get(dir, "ckpt", "commits", "0")
    Files.delete(commit)
    Files.delete(Paths.get(dir, "ckpt", "commits", ".0.crc"))
    persistAll()
    val persisted = spark.read.parquet(s"$dir/out")
    assert(persisted.count() == 100, "a replayed batch must not be appended twice")
    // anti-vacuity: batch 0 really ran again and rewrote its directory
    assert(Files.exists(commit), "restart must replay and re-commit batch 0")
    assert(files().nonEmpty && files() != firstWrite)
    assert(persisted.select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet == Set(0L))
  }

  test("streaming OHLC: finalised bars equal the batch twin, ties by event_id") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ohlc").toString
    val in = MemoryStream[(Long, Timestamp, String, Double)]
    val q = StreamOps.ohlcBarsStream(
      in.toDS().toDF("event_id", "ts", "event_type", "value"),
      s"$dir/out", s"$dir/ckpt")
    // two events share ts(0) exactly — open must pick the LOWER event_id
    val hour1 = Seq((2L, ts(0), "click", 7.0), (1L, ts(0), "click", 3.0),
      (3L, ts(30), "click", 9.0), (4L, ts(45), "click", 1.0))
    in.addData(hour1: _*)
    q.processAllAvailable()
    // advance the watermark past the [10:00, 11:00) bar
    val later = Seq((5L, Timestamp.valueOf("2024-01-01 11:30:00"), "click", 2.0))
    in.addData(later: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(streamed == Set(
      (ts(0), "click", 3.0, 9.0, 1.0, 1.0, 4L)),
      s"finalised bar wrong: $streamed")
    // batch twin over the same events, restricted to the finalised bar
    val twin = StreamOps.ohlcBars(
      (hour1 ++ later).toDF("event_id", "ts", "event_type", "value"))
      .filter(col("window_start") === ts(0)).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(twin == streamed, "stream bars must equal the batch twin")
  }

  test("checkpoint recovery: OHLC killed mid-input resumes from state to the uninterrupted result") {
    // The one streaming-robustness property the r05 verdict called
    // unpinned: kill a STATEFUL query mid-input, restart from the same
    // checkpoint, and prove the resumed run completes to the identical
    // result — the exactly-once resume the reference forfeits with its
    // throwaway tempfile checkpoints (news_categorization_streaming.py:32,
    // SURVEY §2.8). A file source makes the restart real: the second
    // query is a brand-new plan instance whose only link to the first is
    // the checkpoint dir (source offsets + watermark + open-bar state).
    def mkEvents(rows: Seq[(Long, String, Double)]) =
      rows.map { case (id, t, v) => (id, Timestamp.valueOf(t), "click", v) }
        .toDF("event_id", "ts", "event_type", "value")
    // half A: the [10:00, 11:00) bar OPENS here (ids 1-3)...
    val halfA = Seq((1L, "2024-01-01 10:00:00", 5.0),
      (2L, "2024-01-01 10:10:00", 9.0), (3L, "2024-01-01 10:20:00", 2.0))
    // ...half B: the SAME bar continues (ids 4-5) and a late event
    // advances the watermark past its end, finalising it
    val halfB = Seq((4L, "2024-01-01 10:40:00", 7.0),
      (5L, "2024-01-01 10:50:00", 4.0), (6L, "2024-01-01 12:30:00", 1.0))
    val schema = "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    def collectBars(outDir: String) = spark.read.parquet(outDir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))

    val root = java.nio.file.Files.createTempDirectory("graft-ckpt-recovery").toString
    mkEvents(halfA).write.mode("append").parquet(s"$root/in")
    val q1 = StreamOps.ohlcBarsStream(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q1.processAllAvailable()
    q1.stop() // killed mid-input: the 10:00 bar is OPEN, held only as checkpoint state
    assert(collectBars(s"$root/out").isEmpty,
      "nothing may finalise before the watermark passes the bar end")

    mkEvents(halfB).write.mode("append").parquet(s"$root/in")
    val q2 = StreamOps.ohlcBarsStream( // fresh query, same checkpoint
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q2.processAllAvailable()
    q2.stop()

    val resumed = collectBars(s"$root/out")
    // open=5.0 (id 1, half A) proves the bar STATE was recovered — a
    // restart that lost state would reopen at 7.0 (id 4) with volume 2;
    // exactly one row proves the append was not duplicated on resume
    assert(resumed.toSeq == Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 5.0, 9.0, 2.0, 4.0, 5L)),
      s"resumed run emitted: ${resumed.toSeq}")

    // uninterrupted control over the same input, fresh checkpoint
    val ctl = java.nio.file.Files.createTempDirectory("graft-ckpt-control").toString
    mkEvents(halfA ++ halfB).write.mode("append").parquet(s"$ctl/in")
    val qc = StreamOps.ohlcBarsStream(
      spark.readStream.schema(schema).parquet(s"$ctl/in"),
      s"$ctl/out", s"$ctl/ckpt")
    qc.processAllAvailable()
    qc.stop()
    assert(collectBars(s"$ctl/out").toSeq == resumed.toSeq,
      "kill + resume must equal the uninterrupted run")
  }

  test("checkpoint recovery: interval join killed with buffered click state resumes to the batch twin") {
    // The remaining untested state-store class after the OHLC and
    // chained-DAU pins: stream-stream JOIN state. The kill point is
    // chosen so the first run leaves unmatched clicks buffered in the
    // join state store (their purchase has not arrived yet); the resumed
    // run's new purchase can only match them if the buffered rows
    // survived the checkpoint round-trip. Offset recovery is pinned by
    // the same data: the half-A match must appear exactly once.
    def mkEvents(rows: Seq[(Long, String, String, Double)]) =
      rows.map { case (u, t, ty, v) => (u, Timestamp.valueOf(t), ty, v) }
        .toDF("user_id", "ts", "event_type", "value")
    // half A: two clicks; the 10:02 purchase matches ONLY the 10:00
    // click and emits in run 1. The 10:05 click stays buffered: state.
    val halfA = Seq(
      (1L, "2024-01-01 10:00:00", "click", 1.0),
      (1L, "2024-01-01 10:02:00", "purchase", 10.0),
      (1L, "2024-01-01 10:05:00", "click", 2.0))
    // half B: a purchase whose 10-minute window reaches back across the
    // kill — matches BOTH pre-kill clicks iff the join state recovered
    val halfB = Seq((1L, "2024-01-01 10:08:00", "purchase", 20.0))
    val schema = "user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    def rowsOf(dir: String) = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3), r.getDouble(4))).toSet

    val root = java.nio.file.Files.createTempDirectory("graft-join-recovery").toString
    mkEvents(halfA).write.mode("append").parquet(s"$root/in")
    val q1 = StreamOps.clicksJoinStream(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q1.processAllAvailable()
    q1.stop() // killed: clicks 10:00 + 10:05 live only in join state
    val afterA = rowsOf(s"$root/out")
    assert(afterA == Set((1L, Timestamp.valueOf("2024-01-01 10:02:00"),
      Timestamp.valueOf("2024-01-01 10:00:00"), 10.0, 1.0)),
      s"run 1 emitted: $afterA")

    mkEvents(halfB).write.mode("append").parquet(s"$root/in")
    val q2 = StreamOps.clicksJoinStream( // fresh query, same checkpoint
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val resumed = rowsOf(s"$root/out")
    // the two 10:08 matches prove the buffered click state recovered;
    // exactly one 10:02 row proves offsets were not replayed
    val expected = Set(
      (1L, Timestamp.valueOf("2024-01-01 10:02:00"),
        Timestamp.valueOf("2024-01-01 10:00:00"), 10.0, 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:08:00"),
        Timestamp.valueOf("2024-01-01 10:00:00"), 20.0, 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:08:00"),
        Timestamp.valueOf("2024-01-01 10:05:00"), 20.0, 2.0))
    assert(resumed == expected, s"resumed run emitted: $resumed")

    // batch twin over the combined input: byte-identical result set
    def side(t: String) = mkEvents(halfA ++ halfB)
      .filter(col("event_type") === t)
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .as[StreamOps.UserEvent]
    val twin = StreamOps.clicksBeforePurchase(side("click"), side("purchase"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(twin == resumed, s"batch twin diverged: $twin")
  }

  test("checkpoint recovery: session window killed mid-session resumes, MERGES, and finalises correctly") {
    // Session state is the remaining stateful class: windows MERGE. The
    // kill lands while user 1's session is open (extent + running count
    // live only in the state store); the resumed run's 10:30 event must
    // EXTEND that recovered session — a state-lost restart would open a
    // fresh session at 10:30 with count 1 and a 10:30 start.
    def mkEvents(rows: Seq[(Long, String, Double)]) =
      rows.map { case (u, t, v) => (u, Timestamp.valueOf(t), "click", v) }
        .toDF("user_id", "ts", "event_type", "value")
    val halfA = Seq((1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0))
    // 10:30 < 10:10 + 30min gap → merges into the recovered session
    // (new extent [10:00, 11:00)); the 14:00 event drives the watermark
    // past 11:00, finalising it
    val halfB = Seq((1L, "2024-01-01 10:30:00", 3.0),
      (99L, "2024-01-01 14:00:00", 4.0))
    val schema = "user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    def rowsOf(dir: String) = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet

    val root = java.nio.file.Files.createTempDirectory("graft-sess-recovery").toString
    mkEvents(halfA).write.mode("append").parquet(s"$root/in")
    val q1 = StreamOps.sessionCountsStream(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q1.processAllAvailable()
    q1.stop() // killed: session [10:00, 10:40) open, count 2, state only
    assert(rowsOf(s"$root/out").isEmpty,
      "nothing may finalise while the session is inside the watermark horizon")

    mkEvents(halfB).write.mode("append").parquet(s"$root/in")
    val q2 = StreamOps.sessionCountsStream( // fresh query, same checkpoint
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val resumed = rowsOf(s"$root/out")
    // start 10:00 + count 3 prove extent AND count recovered-then-merged
    assert(resumed == Set(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L)),
      s"resumed run emitted: $resumed")

    // uninterrupted control over the same input, fresh checkpoint
    val ctl = java.nio.file.Files.createTempDirectory("graft-sess-control").toString
    mkEvents(halfA ++ halfB).write.mode("append").parquet(s"$ctl/in")
    val qc = StreamOps.sessionCountsStream(
      spark.readStream.schema(schema).parquet(s"$ctl/in"),
      s"$ctl/out", s"$ctl/ckpt")
    qc.processAllAvailable()
    qc.stop()
    assert(rowsOf(s"$ctl/out") == resumed,
      "kill + resume must equal the uninterrupted run")
  }

  /** The chained-DAU kill/resume round trip, shared by the default-
    * provider and RocksDB-provider recovery pins. Returns the resumed
    * result, the resumed query's progress JSONs (for provider
    * anti-vacuity), and the checkpoint root (for state-file layout
    * checks). dailyActives chains TWO stateful operators
    * (dropDuplicatesWithinWatermark + windowed count), so a correct
    * resume must restore the dedup set AND the open window counts
    * together — a user seen before the kill must still be deduplicated
    * after it, or the resumed day over-counts. */
  private def dauRecoveryRoundTrip(): (Seq[(Timestamp, Long)], Seq[String], String) = {
    def mkEvents(rows: Seq[(Long, String)]) =
      rows.map { case (u, t) => (u, Timestamp.valueOf(t)) }
        .toDF("user_id", "ts")
    // half A: users 1,2 active on Jan 1 (user 1 twice)
    val halfA = Seq((1L, "2024-01-01 09:00:00"), (2L, "2024-01-01 10:00:00"),
      (1L, "2024-01-01 15:00:00"))
    // half B: user 1 AGAIN (must still dedup against pre-kill state),
    // user 3 new; then a late event closes Jan 1 → DAU 3, not 4
    val halfB = Seq((1L, "2024-01-01 22:00:00"), (3L, "2024-01-01 23:00:00"),
      (9L, "2024-01-03 06:00:00"))
    val schema = "user_id LONG, ts TIMESTAMP"
    val root = java.nio.file.Files.createTempDirectory("graft-dau-recovery").toString
    mkEvents(halfA).write.mode("append").parquet(s"$root/in")
    val q1 = StreamOps.dailyActivesStream(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q1.processAllAvailable()
    q1.stop() // Jan 1 still open: dedup set {1,2}, count state live
    mkEvents(halfB).write.mode("append").parquet(s"$root/in")
    val q2 = StreamOps.dailyActivesStream(
      spark.readStream.schema(schema).parquet(s"$root/in"),
      s"$root/out", s"$root/ckpt")
    q2.processAllAvailable()
    val progress = q2.recentProgress.map(_.json).toSeq
    q2.stop()
    val resumed = spark.read.parquet(s"$root/out").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toSeq
    (resumed, progress, root)
  }

  test("checkpoint recovery: CHAINED stateful DAU resumes both state stores correctly") {
    val (resumed, _, _) = dauRecoveryRoundTrip()
    assert(resumed == Seq(
      Timestamp.valueOf("2024-01-01 00:00:00") -> 3L),
      s"resumed DAU wrong (4 would mean the dedup state was lost): $resumed")
  }

  test("checkpoint recovery under RocksDBStateStoreProvider: identical result, provider actually engaged") {
    // r06 verdict #7: at 100 TB state (dedup fingerprints, CDC keyed
    // state) the in-memory/HDFS-backed default store cannot hold the
    // working set — RocksDB spills it to local disk with the same
    // exactly-once checkpoint contract. Same kill/resume round trip,
    // provider swapped by config only; the result must be identical.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (resumed, progress, root) = dauRecoveryRoundTrip()
      assert(resumed == Seq(
        Timestamp.valueOf("2024-01-01 00:00:00") -> 3L),
        s"RocksDB resumed DAU wrong: $resumed")
      // anti-vacuity 1: the resumed query's own progress reports
      // RocksDB custom metrics — the provider ran, not the default
      assert(progress.exists(_.contains("rocksdb")),
        s"no rocksdb metrics in progress: ${progress.headOption.getOrElse("")}")
      // anti-vacuity 2: the checkpoint state layout is RocksDB's
      // (version zips, no HDFS-provider .delta files)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      val stateFiles = walk(new java.io.File(s"$root/ckpt/state"))
      assert(stateFiles.exists(_.getName.endsWith(".zip")),
        s"no RocksDB snapshot zips under state/: ${stateFiles.map(_.getName).take(8)}")
      assert(!stateFiles.exists(_.getName.endsWith(".delta")),
        "HDFS-provider delta files present — default provider ran instead")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming DAU: chained dedup + count equals the batch twin per finalised day") {
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-dau").toString
    val in = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.dailyActivesStream(
      in.toDS().toDF("user_id", "ts"), s"$dir/out", s"$dir/ckpt")
    // day 1: user 1 appears 3x (two batches), users 2,3 once — DAU 3
    val d1 = Timestamp.valueOf("2024-01-01 09:00:00")
    in.addData((1L, d1), (2L, d1),
      (1L, Timestamp.valueOf("2024-01-01 15:00:00")))
    q.processAllAvailable()
    in.addData((1L, Timestamp.valueOf("2024-01-01 22:00:00")),
      (3L, Timestamp.valueOf("2024-01-01 23:30:00")))
    q.processAllAvailable()
    // advance the watermark (1 day) past the end of Jan 1
    val later = (9L, Timestamp.valueOf("2024-01-03 01:00:00"))
    in.addData(later)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed ==
      Map(Timestamp.valueOf("2024-01-01 00:00:00") -> 3L), streamed.toString)
    // batch twin over the same rows, restricted to the finalised day
    val all = Seq((1L, d1), (2L, d1),
      (1L, Timestamp.valueOf("2024-01-01 15:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 22:00:00")),
      (3L, Timestamp.valueOf("2024-01-01 23:30:00")), later)
    val twin = StreamOps.dailyActives(all.toDF("user_id", "ts"))
      .filter(col("day") === Timestamp.valueOf("2024-01-01 00:00:00"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(twin == streamed, "stream DAU must equal the batch twin")
  }

  test("streaming CMS: complete-mode sketch equals the batch twin across batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[String]
    val q = StreamOps.cmsCellsStream(in.toDS().toDF("token"), "cms_sketch")
    val batch1 = Seq("spark", "spark", "scala", "data")
    val batch2 = Seq("spark", "data", "graft", "graft", "graft")
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_sketch").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val twin = ops.TextAnalysis.cmsCells(
      (batch1 ++ batch2).toDF("token")).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == twin, "stream sketch must equal the batch twin")
    // the state bound: never more than depth x width cells
    assert(streamed.size <=
      ops.TextAnalysis.CmsDepth * ops.TextAnalysis.CmsWidth)
    // all cells in every row sum to the total token count
    (0 until ops.TextAnalysis.CmsDepth).foreach { r =>
      val rowSum = streamed.collect { case ((`r`, _), c) => c }.sum
      assert(rowSum == (batch1 ++ batch2).length.toLong, s"row $r")
    }
  }

  test("streaming HLL: complete-mode register state equals the batch twin across batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Long]
    val q = StreamOps.hllRegistersStream(
      in.toDS().toDF("user_id"), "user_id", "hll_sketch")
    // batch 2 repeats users from batch 1: the register max must be
    // idempotent under re-observation (the property that makes the
    // sketch a DISTINCT counter rather than a row counter)
    val batch1 = Seq(1L, 2L, 3L, 4L, 5L, 2L)
    val batch2 = Seq(4L, 5L, 6L, 7L, 1L)
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_sketch").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val twin = ops.Relational.hllRegisters(
      (batch1 ++ batch2).toDF("user_id"), "user_id").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(streamed == twin, "stream registers must equal the batch twin")
    // the state bound: never more than m = 256 registers
    assert(streamed.nonEmpty && streamed.size <= 256)
  }

  test("streaming value histogram: complete-mode cell state equals the batch twin") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val q = StreamOps.valueHistStream(
      in.toDS().toDF("event_type", "value"), "hist_sketch")
    // batch 2 lands values in cells batch 1 already opened AND in new
    // ones: merged counts must be addition, not replacement
    val batch1 = Seq(("click", 3.10), ("click", 4.99), ("view", 12.00),
      ("click", 7.25), ("view", 3.10))
    val batch2 = Seq(("click", 3.11), ("view", 488.88), ("click", 250.00))
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hist_sketch").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val twin = ops.EventStreams.valueHistCells(
      (batch1 ++ batch2).toDF("event_type", "value")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == twin, "stream cells must equal the batch twin")
    // counts total the input rows (nothing dropped or double-counted)
    assert(streamed.values.sum == (batch1 ++ batch2).size.toLong)
  }

  test("st19 funnel state machine: stream across batches equals the batch twin") {
    implicit val sql = spark.sqlContext
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val raw = model.Tables.events(spark, sf)
    val ue = raw.select(col("user_id"), col("event_type"), col("value"),
        ops.EventStreams.eventTs(raw).cast("timestamp").as("ts"))
      .as[UserEvent].collect().sortBy(e => micros(e.ts))
    val (b1, b2) = ue.splitAt(ue.length / 2)
    val in = MemoryStream[UserEvent]
    val q = StreamOps.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Update()).start()
    in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    // stage is monotone nondecreasing, so max emitted = final state
    val got = spark.table("funnel").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).max).toMap
    q.stop()
    // sequential reference machine over the same ordered events
    val milestones = Array("view", "click", "purchase")
    val win = ops.EventStreams.FunnelWindowUs
    val expected = ue.groupBy(_.user_id).view.mapValues { es =>
      var stage = 0; var since = Long.MinValue
      es.sortBy(e => micros(e.ts)).foreach { e =>
        val m = micros(e.ts)
        if (stage < 3 && e.event_type == milestones(stage) && m > since &&
            (stage == 0 || m <= since + win)) { stage += 1; since = m }
      }
      stage
    }.toMap
    assert(got == expected,
      s"diverged for users: ${(got.toSet diff expected.toSet).take(3)}")
    assert(expected.values.exists(_ == 3), "no user completes the funnel")
    assert(expected.values.exists(_ < 3), "every user completes - vacuous")
    // corpus histogram equals the oracled batch twin st19
    val hist = ops.EventStreams.st19.run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expHist = expected.values.groupBy(_.toLong).view
      .mapValues(_.size.toLong).toMap
    assert(hist == expHist)
  }
}
