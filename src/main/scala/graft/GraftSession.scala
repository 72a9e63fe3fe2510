package graft

import org.apache.hadoop.fs.Path
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
  *  - `spark.sql.extensions` = [[graft.plans.GraftExtensions]], the path a
  *    `spark-submit --conf` deployment takes: every session built here,
  *    and every `newSession()` of one, has the engine's SQL functions and
  *    its three optimizer rewrites.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` =
  *    [[graft.sources.NioLocalFileSystem]] / [[graft.sources.NioLocalFs]]:
  *    without libhadoop, stock Hadoop forks `chmod`, `ls -ld` or
  *    `readlink` for every local permission set or status read: the
  *    streaming checkpoint commits, the parquet sink's creates and
  *    renames, every listing. These answer from `java.nio` with the
  *    same statuses and `.crc` files (news micro-batch `walCommit` p50
  *    60 → 4 ms on a 4-core host). Other schemes are untouched. A
  *    launch-time `--conf` (a `spark.*` system property) of either key
  *    wins, so the stock FS stays one flag away.
  */
object GraftSession {

  /** A per-process scratch dir `/tmp/graft-<name>-<pid>` (not created
    * here), removed recursively on JVM exit: per-process dirs would
    * otherwise accumulate in /tmp, one per bench/verify/test JVM. */
  def scratchDir(name: String): String = {
    val dir = s"/tmp/graft-$name-${ProcessHandle.current().pid()}"
    sys.addShutdownHook(deleteRecursively(new java.io.File(dir)))
    dir
  }

  /** Deletes `f` and, for a directory, everything under it. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Hex of a corpus dir's 96-bit md5 prefix: the name of every
    * per-corpus artifact. Not hashCode — a 32-bit collision between two
    * corpus dirs would silently serve one dir's artifact for the other. */
  def corpusKey(d: String): String = md5Hex(d).take(24)

  /** Hex md5 of the path, size and mtime of every file under `path` (or
    * of `path` itself when it is a file), listed through the session's
    * Hadoop `FileSystem`, so any scheme works. A cheap driver-side
    * listing that reads no data: rewriting the files in place changes
    * it, reading them does not. A missing path fingerprints as empty. */
  def filesFingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val sig = scala.collection.mutable.ArrayBuffer[String]()
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        sig += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
      }
    }
    md5Hex(sig.sorted.mkString("|"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

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
    .config("spark.sql.extensions",
      classOf[graft.plans.GraftExtensions].getName)
    // a launch-time `--conf` of either key keeps it: the stock FS to compare
    .config(Map(
      "spark.hadoop.fs.file.impl" ->
        classOf[graft.sources.NioLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[graft.sources.NioLocalFs].getName)
      .filter { case (k, _) => !sys.props.contains(k) })

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

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: extra session confs (Spark's own
    * keys, e.g. `spark.sql.optimizer.excludedRules`), applied last by
    * [[bench]] so they override the bench defaults. */
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
    val spark = local(benchCpus.toInt)
    spark.conf.set("spark.graft.fasthash", "true")
    spark.conf.set("spark.graft.validation.cap.docs", "5000")
    spark.conf.set("spark.graft.validation.cap.vecs", "2000")
    confOverrides.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
