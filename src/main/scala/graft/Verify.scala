package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.benchCpus.toInt)
    // dev-only: restrict the dump (and the oracle json) to named queries
    // for fast iteration; the full correctness run leaves it unset
    try run(spark, sfDir, outDir,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", "all"))
    finally spark.stop()
  }

  /** [[main]] on a caller's session, over the queries that
    * [[SparkEntry.queriesNamed]] picks: an unknown name fails before any
    * query runs. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: String): Unit = {
    val qs = SparkEntry.queriesNamed(names)
    new java.io.File(outDir).mkdirs()
    qs.foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = qs.flatMap(x => x.oracle.map(sql => s"${q(x.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
