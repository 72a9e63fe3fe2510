package graft

import org.apache.spark.sql.SparkSession

/** Canonical session settings for the engine.
  *
  * Centralised so Verify/Bench/tests all run with the same semantics:
  *  - UTC session timezone (oracle parity with DuckDB)
  *  - AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  *    the behaviour we rely on at cluster scale)
  *  - `nanosAsLong`: earlier testdata generations stored `events.ts` as
  *    TIMESTAMP(NANOS), which Spark 4 otherwise refuses to read; with the
  *    conf those files arrive as raw nanos longs. Current generations use
  *    native `timestamp[us]`. Both storage dtypes flow through the
  *    adaptive [[graft.ops.EventStreams.eventTs]] accessor family, so the
  *    conf is a compatibility keep, not a semantic switch.
  */
object GraftSession {

  /** A per-process scratch dir `/tmp/graft-<name>-<pid>` (not created
    * here), removed recursively on JVM exit: per-process dirs would
    * otherwise accumulate in /tmp, one per bench/verify/test JVM. */
  def scratchDir(name: String): String = {
    val dir = s"/tmp/graft-$name-${ProcessHandle.current().pid()}"
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
    dir
  }

  // ~tens of MB per JVM once q44 has written its bucketed tables
  private val warehouseDir = scratchDir("warehouse")

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // managed tables (the bucketed-join path) must never land in the
    // process cwd's ./spark-warehouse — Verify/Bench run from the repo.
    // Per-process dir: two JVMs (bench + tests) sharing one warehouse
    // would interleave q44's DROP/delete/saveAsTable on the same paths
    .config("spark.sql.warehouse.dir", warehouseDir)

  /** Apply engine configs to an already-constructed session (used when the
    * driver harness owns the builder). Only dynamic confs can be set here. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def local(cores: Int = 4): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Cores of the [[bench]] session: `SPARK_GRAFT_CPUS`, default 4. */
  def benchCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: extra session confs for measurement
    * toggles, applied last by [[bench]] so a toggle can override the
    * bench defaults. */
  def confOverrides: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';').toSeq
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
          case _ => None
        }
      })

  /** Bench conditions, the one session [[Bench]] and [[Profile]] measure
    * under: `local[`[[benchCpus]]`]` at the same shuffle width, fasthash,
    * the validation caps, then [[confOverrides]]. */
  def bench(): SparkSession = {
    val cpus = benchCpus
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.graft.fasthash", "true")
    spark.conf.set("spark.graft.validation.cap.docs", "5000")
    spark.conf.set("spark.graft.validation.cap.vecs", "2000")
    confOverrides.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
