package graft

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.lit

import graft.model.Tables

/** `Tables`' schema memo: a table's parquet schema is inferred (one
  * footer-reading job) on the first read of its path, and later reads
  * start no job and give the same schema and plan. A rewrite of the
  * files or a change of a parquet read conf makes the next read infer
  * again. */
class TableSchemaMemoSpec extends SparkSpec {

  /** Jobs started while `f` runs, every listener event delivered. */
  private def jobsIn[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      BusDrain(sc)
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    Profile.stable(df.queryExecution.explainString(FormattedMode))

  private def withTempDir[T](f: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
    }
    try f(tmp.getAbsolutePath) finally rm(tmp)
  }

  test("a second read starts no job and equals an inferring read") {
    Tables.orders(spark, sf)
    val (memo, jobs) = jobsIn(Tables.orders(spark, sf))
    assert(jobs == 0, s"memoized read started $jobs jobs")
    val (stock, stockJobs) = jobsIn(spark.read.parquet(s"$sf/orders.parquet"))
    assert(stockJobs > 0, "the stock read should infer with a job")
    assert(memo.schema == stock.schema)
    assert(formatted(memo) == formatted(stock))
    assert(memo.collect().toSeq.sortBy(_.getLong(0)) ==
      stock.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("rewriting the table in place makes the next read see the new column") {
    withTempDir { dir =>
      val path = s"$dir/orders.parquet"
      Tables.orders(spark, sf).limit(50).write.parquet(path)
      Tables.orders(spark, dir)
      val (before, jobs) = jobsIn(Tables.orders(spark, dir))
      assert(jobs == 0)
      assert(!before.columns.contains("extra"))
      Tables.orders(spark, sf).limit(50).withColumn("extra", lit(7))
        .write.mode("overwrite").parquet(path)
      val after = Tables.orders(spark, dir)
      assert(after.columns.last == "extra")
      assert(after.select("extra").collect().map(_.getInt(0)).toSet == Set(7))
      assert(jobsIn(Tables.orders(spark, dir))._2 == 0)
    }
  }

  test("changing a parquet read conf makes the next read infer again") {
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    Tables.orders(spark, sf)
    assert(jobsIn(Tables.orders(spark, sf))._2 == 0)
    spark.conf.set(key, (!prior.contains("true")).toString)
    try {
      assert(jobsIn(Tables.orders(spark, sf))._2 > 0, "conf change did not re-infer")
      assert(jobsIn(Tables.orders(spark, sf))._2 == 0)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(jobsIn(Tables.orders(spark, sf))._2 > 0, "conf restore did not re-infer")
  }

  test("q05's six tables are read with no construct job the second time") {
    ops.Relational.q05.run(spark, sf)
    val (_, jobs) = jobsIn(ops.Relational.q05.run(spark, sf))
    assert(jobs == 0, s"q05 construct started $jobs jobs")
  }
}
