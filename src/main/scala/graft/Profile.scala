package graft

import scala.util.control.NonFatal

import org.apache.spark.graft.{BusDrain, FreePersisted}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dev-tool main: profiles catalog queries under bench conditions
  * ([[GraftSession.bench]]). `names` is a comma-separated list of
  * catalog names, or `all` (the default).
  *
  * Usage: runMain graft.Profile <mode> <sfDir> [names|all] [outDir]
  *
  *  - `stages`: runs each query once into a noop sink and prints one
  *    JSON line per query: wall seconds, jobs, stages, tasks, executor
  *    CPU seconds, the CPU seconds of single-task stages and the top-3
  *    stages by CPU as `[tasks, cpu]`. A single-row-group scan is one
  *    task whatever the core count, so a CPU-dense kernel below the
  *    first exchange shows up as `one_task_cpu`. Every counted job is
  *    the query's own (none starts after its sink returns), but the
  *    count is not fixed run to run: when both inputs of a sort-merge
  *    join run as concurrent query stages, adaptive execution turns
  *    the join into a broadcast join on whichever small side finishes
  *    first, and the two plans can differ by one broadcast or shuffle
  *    job (at sf0.01, s03 reads 8 or 9 jobs and g12 65 or 66). Two
  *    runs of one build thus differ by up to one job per such join:
  *    compare counts over several passes. A table's first read in the
  *    JVM also starts one schema-inference job, so a query's count
  *    depends on what ran before it.
  *  - `plan`: prints each query's formatted physical plan without
  *    executing it. `exec` runs the query first and prints the final
  *    adaptive plan: some width collapses exist only in AQE's runtime
  *    re-plan. With `outDir`, each plan goes to `outDir/<name>.txt`.
  *    Plans print through [[stable]], so two runs or two commits diff.
  *  - `windows`: lists the queries whose initial physical plan has a
  *    window at a width no shuffle set — a global window (one task
  *    whatever the input size) or a window whose input reaches a scan
  *    through a broadcast join (scan width, join-multiplied rows).
  *    Plans only, but `Q.run` of artifact-building queries runs jobs.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.bench()
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** [[main]] on a caller's session; prints to `Console.out`. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.length >= 2,
      "usage: Profile stages|plan|exec|windows <sfDir> [names|all] [outDir]")
    val sfDir = args(1)
    val qs = SparkEntry.queriesNamed(args.lift(2).getOrElse("all"))
    args.head match {
      case "stages" => stages(spark, sfDir, qs)
      case "plan" => plans(spark, sfDir, qs, args.lift(3), execute = false)
      case "exec" => plans(spark, sfDir, qs, args.lift(3), execute = true)
      case "windows" => windows(spark, sfDir, qs)
      case other => sys.error(s"unknown Profile mode $other")
    }
  }

  private def stages(spark: SparkSession, sfDir: String, qs: Seq[Q]): Unit = {
    val sc = spark.sparkContext
    // (tasks, executor cpu seconds) per completed stage
    val done = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var jobs = 0
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        done += ((i.numTasks, i.taskMetrics.executorCpuTime / 1e9))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    sc.addSparkListener(listener)
    try {
      // warmup: parquet reader, shuffle, codegen
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
      qs.foreach { q =>
        BusDrain(sc)
        done.clear(); jobs = 0
        val t0 = System.nanoTime()
        try {
          q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          BusDrain(sc)
          val snap = done.toSeq
          val top = snap.sortBy(-_._2).take(3)
            .map { case (t, c) => s"""[$t,${fmt(c)}]""" }
            .mkString("[", ",", "]")
          println(s"""{"q":"${q.name}","wall":${fmt(sec)},"jobs":$jobs,""" +
            s""""stages":${snap.size},"tasks":${snap.map(_._1).sum},""" +
            s""""cpu":${fmt(snap.map(_._2).sum)},""" +
            s""""one_task_cpu":${fmt(snap.filter(_._1 <= 1).map(_._2).sum)},""" +
            s""""top":$top}""")
        } catch { case NonFatal(e) =>
          println(s"""{"q":"${q.name}","error":"${e.getClass.getSimpleName}"}""")
        }
        FreePersisted(sc)
      }
    } finally sc.removeSparkListener(listener)
  }

  /** `text` without what differs between two runs of one plan or its
    * twin at another commit: expression and plan ids (JVM-wide
    * counters), RDD ids, the source line of an RDD's call site and
    * lambda class names. */
  private[graft] def stable(text: String): String = text
    .replaceAll("#\\d+L?", "")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("RDD\\[\\d+\\]", "RDD[]")
    .replaceAll("(at \\w+\\.scala):\\d+", "$1")
    .replaceAll("\\$\\$Lambda[$/\\w@]*", "\\$\\$Lambda")

  private def plans(spark: SparkSession, sfDir: String, qs: Seq[Q],
      outDir: Option[String], execute: Boolean): Unit = {
    outDir.foreach(d => new java.io.File(d).mkdirs())
    qs.foreach { q =>
      val df = q.run(spark, sfDir)
      if (execute) df.queryExecution.executedPlan.execute().count(): Unit
      val text = stable(df.queryExecution.explainString(FormattedMode))
      outDir match {
        case Some(d) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$d/${q.name}.txt"), text)
          System.err.println(s"[profile] wrote $d/${q.name}.txt")
        case None => println(text)
      }
    }
  }

  private def windows(spark: SparkSession, sfDir: String, qs: Seq[Q]): Unit = {
    def initial(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case x => x
    }
    // does this node's width-setting chain pass THROUGH a broadcast join
    // to a leaf? (then its width is the probe scan's split count while
    // the join multiplied the rows)
    def pinned(n: SparkPlan, passed: Option[String] = None): Option[String] =
      n match {
        case _: ShuffleExchangeLike => None
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => None
        case j: BroadcastHashJoinExec =>
          val streamed = j.buildSide match {
            case BuildLeft => j.right
            case BuildRight => j.left
          }
          pinned(streamed, Some(j.nodeName))
        case j: BroadcastNestedLoopJoinExec =>
          val streamed = j.buildSide match {
            case BuildLeft => j.right
            case BuildRight => j.left
          }
          pinned(streamed, Some(j.nodeName))
        case l if l.children.isEmpty => passed
        case other =>
          other.children.view.flatMap(pinned(_, passed)).headOption
      }
    def keys(spec: Seq[_]): String = stable(spec.mkString(",")).take(40)
    for (q <- qs) {
      try {
        val plan = initial(q.run(spark, sfDir).queryExecution.executedPlan)
        val hits = plan.collect {
          case w: WindowGroupLimitExec
              if pinned(w.child).isDefined =>
            s"PARTIAL-RANK-AT-SCAN-WIDTH over ${pinned(w.child).get} " +
              s"(partitionBy=${keys(w.partitionSpec)})"
          case w: WindowExec if pinned(w.child).isDefined =>
            s"WINDOW-AT-SCAN-WIDTH over ${pinned(w.child).get} " +
              s"(partitionBy=${keys(w.partitionSpec)})"
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            s"WindowGroupLimit(global)"
          case w: WindowExec
              if w.windowExpression.nonEmpty && w.partitionSpec.isEmpty =>
            s"Window(global)"
        }
        if (hits.nonEmpty)
          println(s"${q.name}: ${hits.distinct.mkString(" | ")}")
      } catch { case e: Exception =>
        println(s"${q.name}: SCAN-ERROR ${e.getMessage.take(80)}")
      }
    }
  }
}
