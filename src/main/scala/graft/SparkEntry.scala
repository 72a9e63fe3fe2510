package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from the per-family catalogs in
  * `graft.ops.*`; each catalog entry is a [[Q]] (Spark impl + optional
  * DuckDB oracle SQL over the same parquet tables).
  */
object SparkEntry {

  /** All operator catalogs, in SURVEY.md §2 order. */
  def catalog: Seq[Q] =
    sources.Ingest.all ++ ops.Relational.all ++ ops.NewsPipeline.all ++
      ops.Dedup.all ++ ops.EntityResolution.all ++
      ops.TextAnalysis.all ++ ops.Similarity.all ++
      ops.EventStreams.all ++ ops.TypedOps.all ++ ops.MLClassify.all ++
      ops.CleanCorpus.all ++ ops.Graph.all ++ multimodal.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full news-digest pipeline (classify → summarise → digest → JSON),
    * i.e. the reference's §3.2 batch lifecycle end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    ops.NewsPipeline.n05.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** The catalog queries in `names` (comma-separated), in that order,
    * or the whole catalog for `all`. Throws on a name not in the
    * catalog, naming it, rather than running a shorter list. */
  def queriesNamed(names: String): Seq[Q] =
    if (names == "all") catalog
    else {
      val byName = catalog.map(q => q.name -> q).toMap
      val picked = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = picked.filterNot(byName.contains)
      require(unknown.isEmpty,
        s"no catalog query named ${unknown.mkString(", ")}")
      picked.map(byName)
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
