package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.NewsPipeline
import graft.sources.KafkaIO
import graft.streaming.StreamOps

/** The news flow: an open-loop generator drops one file of seeded
  * documents per poll into an input directory on a fixed schedule; the
  * consumer persists what has arrived with `persistClassified` runs over
  * `classifyStream`, then the digest reads back what the sink wrote.
  *
  * Times are seconds since `t0`, the schedule's origin. The generator
  * runs on its own thread, so a slow consumer never delays a poll. */
final class Flow(spark: SparkSession, plan: Map[String, Any], trace: Trace) {
  import spark.implicits._

  private val work = plan("work_dir").toString
  private val inDir = s"$work/flow-in"
  private val outDir = s"$work/flow-out"
  private val ckptDir = s"$work/flow-ckpt"
  private val runTimeoutS = plan("op_timeout_s").toString.toDouble
  private val StallS = 10.0

  private case class Poll(phase: String, dueS: Double, docs: Seq[Int])
  private val polls = plan("polls").asInstanceOf[Seq[Map[String, Any]]].map { p =>
    Poll(p("phase").toString, p("due_s").toString.toDouble,
      p("docs").asInstanceOf[Seq[Any]].map(_.toString.toInt))
  }
  private val totalDocs = polls.map(_.docs.size.toLong).sum

  private val texts: Array[String] =
    spark.read.parquet(plan("docs_path").toString)
      .orderBy("doc_id").select(coalesce(col("text"), lit(""))).as[String]
      .collect()
  // each document's input line, serialized once so a large poll is only
  // a file write
  private val lines: Array[String] =
    texts.map(t => Main.mapper.writeValueAsString(Map("value" -> t)) + "\n")

  private var t0Ns = 0L
  private def now: Double = (System.nanoTime() - t0Ns) / 1e9
  private val writtenDocs = new AtomicLong(0)
  private val writtenAt = Array.fill(polls.size)(-1.0)

  /** Writes poll `i` as one file, renamed into place once complete. */
  private def writePoll(i: Int): Unit = {
    val docs = polls(i).docs
    val tmp = new File(inDir, f".poll-$i%06d.tmp")
    val w = Files.newBufferedWriter(tmp.toPath, StandardCharsets.UTF_8)
    try docs.foreach(d => w.write(lines(d))) finally w.close()
    Files.move(tmp.toPath, new File(inDir, f"poll-$i%06d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    writtenAt(i) = now
    writtenDocs.addAndGet(docs.size)
  }

  private val generator = new Thread("perfbench-generator") {
    override def run(): Unit = polls.indices.foreach { i =>
      val waitNs = (polls(i).dueS * 1e9).toLong - (System.nanoTime() - t0Ns)
      if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
      writePoll(i)
    }
  }
  generator.setDaemon(true)

  /** One persist run: (re)start the query when the previous
    * AvailableNow run has ended, otherwise wait for it to take in what
    * has arrived. A watchdog stops a run that exceeds the timeout. */
  private def persistRun(q0: Option[StreamingQuery], classified: DataFrame,
      span: Trace.Span): StreamingQuery = {
    val q = q0.filter(_.isActive).getOrElse(
      StreamOps.persistClassified(classified, outDir, ckptDir))
    val watchdog = new java.util.Timer(true)
    watchdog.schedule(new java.util.TimerTask {
      def run(): Unit = { span.attrs("error") = "timeout"; q.stop() }
    }, (runTimeoutS * 1000).toLong)
    try q.processAllAvailable() finally watchdog.cancel()
    q
  }

  def run(): Map[String, Any] = {
    Main.mark("flow_inputs")
    Seq(inDir, outDir).foreach(d => new File(d).mkdirs())
    val classified = StreamOps.classifyStream(
      spark.readStream.schema("value STRING").json(inDir))

    t0Ns = System.nanoTime() + 200000000L
    val t0Us = Main.epochUs + 200000
    generator.start()

    var q: Option[StreamingQuery] = None
    var lastBatch = -1L
    var doneDocs = 0L
    var failures = 0
    var advancedAt = 0.0
    // a sink that takes in fewer rows than were sent never catches up:
    // give up once everything is written and no run has advanced for
    // a while, and let the checks report it
    def stalled = writtenDocs.get == totalDocs && now - advancedAt > StallS
    val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (doneDocs < totalDocs && failures < 3 && !stalled) {
      while (writtenDocs.get <= doneDocs) Thread.sleep(2)
      val start = now
      val (res, sp) = trace.span("streaming.persist_run", s"run-${runs.size}") { s =>
        try Right(persistRun(q, classified, s))
        catch { case t: Throwable => Left(t) }
      }
      val end = now
      res match {
        case Left(t) =>
          failures += 1
          q.foreach(_.stop())
          q = None
          runs += Map("start_s" -> start, "end_s" -> end, "rows" -> 0L,
            "ok" -> false, "error" -> String.valueOf(t.getMessage).take(300))
        case Right(query) =>
          q = Some(query)
          val progress = query.recentProgress.filter(_.batchId > lastBatch)
          progress.lastOption.foreach(p => lastBatch = p.batchId)
          val rows = progress.map(_.numInputRows).sum
          val durations = progress.flatMap(_.durationMs.asScala.toSeq)
            .groupMapReduce(_._1)(_._2.longValue)(_ + _)
          sp.attrs("duration_ms") = durations
          sp.attrs("rows") = rows
          val failed = sp.attrs.contains("error")
          if (failed) failures += 1
          if (rows > 0 || failed) {
            doneDocs += rows
            advancedAt = end
            runs += Map("start_s" -> start, "end_s" -> end, "rows" -> rows,
              "ok" -> !failed, "duration_ms" -> durations, "span" -> sp.id)
          }
      }
    }
    q.foreach(_.stop())
    generator.join(60000)

    val sink = Files.walk(new File(outDir).toPath).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toFile.length).toSeq
    Main.mark("flow")
    val digest = runDigest()
    Main.mark("digest")
    val check = flowCheck()
    Map("first_timed_us" -> (t0Us + (polls.find(_.phase == "nominal")
        .map(_.dueS).getOrElse(0.0) * 1e6).toLong),
      "polls" -> polls.indices.map(i => Map("phase" -> polls(i).phase,
        "due_s" -> polls(i).dueS, "written_s" -> writtenAt(i),
        "docs" -> polls(i).docs.size)),
      "runs" -> runs.toSeq, "digest" -> digest, "check" -> check,
      "sink" -> Map("files" -> sink.size, "bytes" -> sink.sum))
  }

  /** summarize → n05's per-category aggregation → toDigestRecords, over
    * everything the sink persisted; timed until the records are
    * collected. */
  private def runDigest(): Map[String, Any] =
    try {
      val ((records, secs), _) = trace.span("digest.digest", "digest") { s =>
        val t = System.nanoTime()
        val persisted = spark.read.parquet(outDir)
          .filter(col("category") =!= "unknown")
        val bullets = NewsPipeline.summarize(persisted, "message")
          .filter(col("summary") =!= "")
          .withColumn("bullet", concat(lit("- "), col("summary")))
        val digests = bullets.groupBy("category")
          .agg(concat(concat_ws("\n", sort_array(collect_list(col("bullet")))),
            lit("\nDate: " + NewsPipeline.digestDate)).as("content"))
        val ds = KafkaIO.toDigestRecords(digests).as[String]
        val recs = ds.collect()
        val secs = (System.nanoTime() - t) / 1e9
        s.attrs("files_read") = Flow.filesScanned(ds)
        (recs, secs)
      }
      val counts = records.map { v =>
        val m = Main.mapper.readValue(v, classOf[Map[String, Any]])
        m("category").toString ->
          m("content").toString.split("\n").count(_.startsWith("- "))
      }.toMap
      Map("ok" -> true, "s" -> secs, "records" -> records.length,
        "bullets" -> counts)
    } catch { case t: Throwable =>
      Map("ok" -> false, "error" -> String.valueOf(t.getMessage).take(300))
    }

  /** What the sink holds, against `NewsPipeline.classify` over the same
    * documents as one batch frame. Classification is per document, so the
    * frame holds each distinct document of the pool once and the expected
    * counts weight it by how often the generator sent it. */
  private def flowCheck(): Map[String, Any] = {
    val persisted = spark.read.parquet(outDir)
      .groupBy("category").count().as[(String, Long)].collect().toMap
    val pool = NewsPipeline.classify(texts.toSeq.zipWithIndex.toDF("text", "i"))
    val perDoc = NewsPipeline.summarize(pool)
      .select(col("i"), col("category"),
        col("category") =!= "unknown" && col("summary") =!= "")
      .as[(Int, String, Boolean)].collect()
      .map { case (i, c, b) => i -> (c, b) }.toMap
    val sent = polls.flatMap(_.docs).groupMapReduce(identity)(_ => 1L)(_ + _)
    def tally(keep: ((String, Boolean)) => Boolean): Map[String, Long] =
      sent.toSeq.collect { case (i, n) if keep(perDoc(i)) => perDoc(i)._1 -> n }
        .groupMapReduce(_._1)(_._2)(_ + _)
    Map("sent_docs" -> totalDocs, "persisted_rows" -> persisted.values.sum,
      "persisted_by_cat" -> persisted, "batch_by_cat" -> tally(_ => true),
      "batch_bullets" -> tally(_._2))
  }
}

object Flow extends AdaptiveSparkPlanHelper {
  /** Files opened by the file scans of an executed dataset, from each
    * scan's `numFiles` metric (so pruning or compaction on read shows). */
  def filesScanned(ds: Dataset[_]): Long =
    collectWithSubqueries(ds.queryExecution.executedPlan) {
      case scan: FileSourceScanLike =>
        scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
