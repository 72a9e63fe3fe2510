package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._

import graft.functions.NGramExplode

/** The native generator tier ([[graft.functions.NGramExplode]], t25's
  * machinery): plan node, parity with the array route, edge contracts. */
class GeneratorSpec extends SparkSpec {

  test("plans as Generate over the native generator, no array node") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .selectExpr("doc_id", "ngram_explode(w, 3) AS s")
    val gens = df.queryExecution.sparkPlan.collect {
      case g: GenerateExec => g.boundGenerator
    }
    assert(gens.collect { case n: NGramExplode => n }.size == 1,
      df.queryExecution.sparkPlan.toString)
  }

  test("generator == explode(word_shingles) on the corpus, all occurrences") {
    val w = model.Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    val viaGen = w.selectExpr("doc_id", "ngram_explode(w, 3) AS s")
      .groupBy("doc_id", "s").count()
    val viaArr = w.select(col("doc_id"),
        explode(expr("word_shingles(w, 3)")).as("s"))
      .groupBy("doc_id", "s").count()
    assert(viaGen.count() > 0)
    assert(viaGen.exceptAll(viaArr).isEmpty && viaArr.exceptAll(viaGen).isEmpty)
  }

  test("edges: short docs emit nothing, null tokens read as empty, n=1") {
    import spark.implicits._
    val short = Seq("a b", "", "x").toDF("text")
      .select(split(col("text"), " ").as("w"))
      .selectExpr("ngram_explode(w, 3) AS s")
    assert(short.count() == 0)
    val nulls = Seq(Seq("a", null, "c")).toDF("w")
      .selectExpr("ngram_explode(w, 3) AS s")
    assert(nulls.collect().map(_.getString(0)).toSeq == Seq("a  c"))
    val uni = Seq(Seq("p", "q")).toDF("w")
      .selectExpr("ngram_explode(w, 1) AS s")
    assert(uni.collect().map(_.getString(0)).toSeq == Seq("p", "q"))
  }
}
