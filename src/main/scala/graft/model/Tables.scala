package graft.model

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Plain parquet scans: Catalyst handles column pruning and filter pushdown,
  * so callers should `select`/`filter` directly on these and let the
  * optimizer reach the scan (verify via `PushedFilters`/`ReadSchema` in
  * `.explain("formatted")`). At cluster scale these would be partitioned /
  * bucketed tables; the access pattern is identical.
  *
  * Schema memo: a stock `spark.read.parquet(path)` infers the schema with
  * a footer-reading Spark job on every read. The first read of a path
  * here is that stock read; later reads pass its schema back through
  * `spark.read.schema(..)`, which starts no job and gives the same
  * relation and plan. The memo holds one entry per path, keyed on
  * [[GraftSession.filesFingerprint]] of the path (every file's path,
  * size and mtime) plus the reading session's `*parquet*` confs (e.g.
  * `nanosAsLong`, `binaryAsString`). Rewriting a table in place or
  * changing such a conf changes the key, so the next read infers again
  * and replaces the entry.
  */
object Tables {
  /** path -> (memo key, inferred schema) */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    val key = s"${GraftSession.filesFingerprint(spark, path)}|${confs.mkString(",")}"
    Option(schemas.get(path)).filter(_._1 == key) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(path, (key, df.schema))
        df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
