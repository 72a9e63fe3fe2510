package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each layer, plus Spark
  * listener counts attributed to the span that was open when a job
  * started. Everything is kept in memory and written out once, at exit.
  *
  * Jobs find their span through the `perfbench.span` local property,
  * which threads started inside a span (the streaming query's execution
  * thread) inherit. With tracing off, spans still time the calls but no
  * listener is registered and no property is set. */
final class Trace(sc: SparkContext, val enabled: Boolean, epochUs: => Long) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var costNs = 0L

  private val counts = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageCpuNs = mutable.HashMap.empty[Int, Long]

  private val listener = new SparkListener {
    private def timed(body: => Unit): Unit = {
      val t = System.nanoTime()
      Trace.this.synchronized { body; costNs += System.nanoTime() - t }
    }
    private def of(stage: Int): Option[Counts] =
      stageSpan.get(stage).map(id => counts.getOrElseUpdate(id, new Counts))

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).foreach { id =>
          counts.getOrElseUpdate(id, new Counts).jobs += 1
          e.stageIds.foreach(s => stageSpan(s) = id)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      of(si.stageId).foreach { c =>
        c.stages += 1
        if (si.numTasks == 1) c.oneTaskStageCpuNs += stageCpuNs.getOrElse(si.stageId, 0L)
      }
      stageCpuNs.remove(si.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      of(e.stageId).foreach { c =>
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          stageCpuNs(e.stageId) = stageCpuNs.getOrElse(e.stageId, 0L) +
            m.executorCpuTime
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Times `body` as a span (handed to `body`, so it can parent child
    * spans and carry attributes); returns its result and the span. */
  def span[T](name: String, run: String, parent: Option[Span] = None)(
      body: Span => T): (T, Span) = {
    val t0 = System.nanoTime()
    val s = synchronized {
      nextId += 1
      Span(nextId, name, run, parent.map(_.id), epochUs)
    }
    val prev = sc.getLocalProperty(SpanKey)
    if (enabled) sc.setLocalProperty(SpanKey, s.id.toString)
    synchronized { costNs += System.nanoTime() - t0 }
    try (body(s), s)
    finally {
      s.endUs = epochUs
      if (enabled) sc.setLocalProperty(SpanKey, prev)
      synchronized { spans += s }
    }
  }

  /** Every span with its counts, after the listener bus has drained. */
  def export(): (Seq[Map[String, Any]], Double) = {
    if (enabled) org.apache.spark.ListenerBusDrain(sc)
    synchronized {
      val out = spans.sortBy(_.id).toSeq.map { s =>
        Map[String, Any]("id" -> s.id, "name" -> s.name, "run" -> s.run,
          "parent" -> s.parent.orNull, "start_us" -> s.startUs,
          "end_us" -> s.endUs) ++ s.attrs ++
          counts.get(s.id).map(c => Map("counts" -> c.toMap)).getOrElse(Map.empty)
      }
      (out, costNs / 1e9)
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, run: String,
      parent: Option[Int], startUs: Long) {
    @volatile var endUs: Long = startUs
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  }

  final class Counts {
    var jobs, stages, tasks, cpuNs, gcMs, runMs = 0L
    var shuffleWriteBytes, spillBytes, oneTaskStageCpuNs = 0L
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "run_ms" -> runMs, "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes,
      "one_task_stage_cpu_ns" -> oneTaskStageCpuNs)
  }
}
