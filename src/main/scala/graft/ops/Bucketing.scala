package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table utilities: the co-located-join story for repeated big
  * joins at 100 TB. Writing both fact tables bucketed by the join key
  * (same bucket count) lets every subsequent join/aggregation on that key
  * run with ZERO Exchange — the win that pays for the one-time bucketed
  * write when a join is repeated (orders ⋈ lineitem on orderkey being the
  * canonical case in this schema).
  *
  * Bucketing requires `saveAsTable` (metastore-tracked); tests point the
  * warehouse at a temp dir. `SkewSpec`/`BucketingSpec` assert the plan
  * property (no ShuffleExchange below the join) — not just the result —
  * so a regression that silently reintroduces the shuffle fails loudly.
  */
object Bucketing {

  /** Write `df` bucketed (and sorted) by `key` as managed table `name`.
    * Drops any prior table AND its leftover location first — a fresh
    * metastore with a stale warehouse dir otherwise fails with
    * LOCATION_ALREADY_EXISTS. */
  def writeBucketed(df: DataFrame, name: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(warehouse, name)
    graft.GraftSession.deleteRecursively(loc)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(name)
  }

  /** Join two bucketed tables on their bucket key. With both sides
    * bucketed identically this plans as SortMergeJoin over FileScans with
    * no Exchange on either side. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** True iff the executed plan contains no shuffle exchange — the
    * property bucketing is supposed to buy. Forces execution first so
    * AQE's final plan (not the pre-adaptive sketch) is inspected. */
  def hasNoShuffle(df: DataFrame): Boolean = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    !qe.executedPlan.toString.contains("Exchange hashpartitioning")
  }
}
