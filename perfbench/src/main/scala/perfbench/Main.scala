package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark. `run.py` writes a plan (workload, seeded
  * inputs, directories) as JSON, starts this main on it, and reads back
  * the raw observations this main writes; every metric and check verdict
  * is derived on the Python side.
  *
  * Usage: perfbench.Main <plan.json> <out.json>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def epochUs: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Named points in the run's timeline (epoch µs), for the set-up and
    * teardown breakdown `run.py` prints. */
  val marks = scala.collection.mutable.LinkedHashMap("main" -> epochUs)
  def mark(name: String): Unit = marks(name) = epochUs

  /** Peak resident set of this process, from /proc (0 where absent). */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Runs `body` on its own thread (which inherits the caller's Spark
    * local properties) and gives up after `seconds`, cancelling the
    * jobs it started. */
  def withTimeout[T](spark: SparkSession, seconds: Double, group: String)(
      body: => T): T = {
    val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, s"perfbench-$group"); t.setDaemon(true); t
    }
    val sc = spark.sparkContext
    try {
      val f = pool.submit(new Callable[T] {
        def call(): T = {
          sc.setJobGroup(group, group, interruptOnCancel = true)
          try body finally sc.clearJobGroup()
        }
      })
      try f.get((seconds * 1000).toLong, TimeUnit.MILLISECONDS)
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e: TimeoutException =>
          sc.cancelJobGroup(group)
          f.cancel(true)
          throw new TimeoutException(s"$group exceeded ${seconds}s")
      }
    } finally pool.shutdownNow()
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // the catalog's production settings, as graft.Bench runs it
    s.conf.set("spark.graft.fasthash", "true")
    s.conf.set("spark.graft.validation.cap.docs", "5000")
    s.conf.set("spark.graft.validation.cap.vecs", "2000")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: perfbench.Main <plan.json> <out.json>")
    val plan = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val work = plan("work_dir").toString
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    mark("session")
    plan.get("conf").foreach(_.asInstanceOf[Map[String, Any]]
      .foreach { case (k, v) => spark.conf.set(k, v.toString) })
    val trace = new Trace(spark.sparkContext,
      plan("trace").asInstanceOf[Boolean], epochUs)

    // fixed warm-up query: parquet reader, one shuffle, codegen
    spark.read.parquet(s"${plan("data_dir")}/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    mark("warmup_query")

    val result = plan("workload") match {
      case "news_flow" => new Flow(spark, plan, trace).run()
      case "record" => Catalog.record(spark, plan)
      case _ => Catalog.run(spark, plan, trace)
    }
    mark("workload")
    val (spans, traceCost) = trace.export()
    val out = result ++ Map("cores" -> cores, "peak_rss_mb" -> peakRssMb,
      "spans" -> spans, "trace_cost_s" -> traceCost, "marks" -> marks.toMap)
    mapper.writeValue(new File(args(1)), out)
    spark.stop()
    System.exit(0)
  }
}

/** The catalog workloads: each query's `Q.run` (construct), the final
  * frame's planning, and its execution with the output hash. */
object Catalog {
  private def byName = SparkEntry.catalog.map(q => q.name -> q).toMap

  def run(spark: SparkSession, plan: Map[String, Any],
      trace: Trace): Map[String, Any] = {
    val dir = plan("data_dir").toString
    val timeout = plan("op_timeout_s").toString.toDouble
    val queries = plan("queries").asInstanceOf[Seq[String]]
    val catalog = byName
    val firstUs = Main.epochUs
    val ops = queries.map { name =>
      val rec = try Main.withTimeout(spark, timeout, name) {
        trace.span("catalog.query", name) { q =>
          val (df, c) = trace.span("ops.construct", name, Some(q)) { _ =>
            catalog(name).run(spark, dir)
          }
          val (_, p) = trace.span("plans.plan", name, Some(q)) { _ =>
            df.queryExecution.executedPlan
          }
          val ((rows, hash), e) = trace.span("exec.execute", name, Some(q)) { _ =>
            RowHash.of(df)
          }
          val phases = df.queryExecution.tracker.phases
            .map { case (k, v) => k -> v.durationMs }
          Map[String, Any]("name" -> name, "ok" -> true, "rows" -> rows,
            "hash" -> java.lang.Long.toHexString(hash),
            "construct_s" -> (c.endUs - c.startUs) / 1e6,
            "plan_s" -> (p.endUs - p.startUs) / 1e6,
            "execute_s" -> (e.endUs - e.startUs) / 1e6,
            "end_us" -> e.endUs, "phases_ms" -> phases)
        }._1
      } catch { case t: Throwable =>
        Map[String, Any]("name" -> name, "ok" -> false,
          "error" -> s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500),
          "end_us" -> Main.epochUs)
      }
      // free the query's checkpoint blocks before the next one, as a
      // deployment running each query in its own job would
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      rec
    }
    Map("first_timed_us" -> firstUs, "ops" -> ops)
  }

  /** Expected-value recording: each query's (rows, hash) under the
    * benchmark's session, its result as parquet for the oracle compare,
    * and its oracle SQL where one exists. */
  def record(spark: SparkSession, plan: Map[String, Any]): Map[String, Any] = {
    val dir = plan("data_dir").toString
    val outDir = plan("record_dir").toString
    val catalog = byName
    val ops = plan("queries").asInstanceOf[Seq[String]].map { name =>
      val q = catalog(name)
      try {
        val df = q.run(spark, dir)
        val (rows, hash) = RowHash.of(df)
        q.run(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        Map[String, Any]("name" -> name, "ok" -> true, "rows" -> rows,
          "hash" -> java.lang.Long.toHexString(hash),
          "oracle" -> q.oracle.orNull)
      } catch { case t: Throwable =>
        Map[String, Any]("name" -> name, "ok" -> false,
          "error" -> String.valueOf(t.getMessage).take(500))
      }
    }
    Map("ops" -> ops)
  }
}
