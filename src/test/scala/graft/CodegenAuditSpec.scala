package graft

import org.apache.spark.sql.functions.col

import graft.model.Tables
import graft.streaming.StreamOps

/** Pins the north-star codegen discipline ("keep expressions inside
  * whole-stage codegen; widen the spans"): the hot map/agg paths of
  * representative queries must plan with WholeStageCodegen stages (the
  * `*(n)` markers), and in particular the partial aggregates that do
  * the map-side combining must be INSIDE a span — an interpreted
  * aggregate on a scan path is exactly the q60 regression (11.7 s vs
  * 4.6 s at sf0.1) that motivated the chunked-aggregate rewrite.
  * CodegenFallback expressions (WordShingles, SimHash64) do not break
  * the surrounding span — they compile to an eval() call inside the
  * generated stage — and this suite is the proof, not just the
  * scaladoc claim. */
class CodegenAuditSpec extends SparkSpec {

  private def executedPlan(name: String): String = {
    val q = SparkEntry.catalog.find(_.name == name).get
    val df = q.run(spark, sf)
    // under AQE the codegen wrapping only exists once the adaptive
    // stages have actually run — execute THIS dataset's queryExecution
    // (results here are report-sized), then read the final plan
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Count codegen'd HashAggregate nodes — `*(n) HashAggregate`. */
  private def codegenAggs(plan: String): Int =
    raw"\*\(\d+\) HashAggregate".r.findAllIn(plan).length

  test("scan->agg hot paths whole-stage-codegen: q01, q06, t01") {
    for (name <- Seq("q01_pricing_summary", "q06_forecast_revenue")) {
      val plan = executedPlan(name)
      // codegen'd operators print with the `*(n)` stage marker
      assert(raw"\*\(\d+\)".r.findFirstIn(plan).nonEmpty,
        s"$name has no codegen stage at all:\n${plan.take(600)}")
      assert(codegenAggs(plan) >= 1,
        s"$name aggregates outside codegen:\n${plan.take(900)}")
    }
    // t01 is map-only: its scan-side projection must codegen instead
    val t01 = executedPlan("t01_token_stats")
    assert(raw"\*\(\d+\) Project".r.findFirstIn(t01).nonEmpty,
      s"t01 projection outside codegen:\n${t01.take(900)}")
  }

  test("q60: all four chunked sketch aggregates stay inside codegen") {
    // the regression this guards: ONE 240-column aggregate exceeds
    // spark.sql.codegen.maxFields and silently falls back to
    // interpreted eval (measured 11.7 s vs 4.6 s at sf0.1); the four
    // 60-column chunks must each plan as codegen'd partial+final pairs
    val plan = executedPlan("q60_ams_joinsize")
    assert(codegenAggs(plan) >= 4,
      s"chunked sketch aggregates fell out of codegen:\n${plan.take(1200)}")
  }

  test("CodegenFallback expressions do not break the surrounding span (d05)") {
    // simhash64 is a CodegenFallback Expression; its projection stage
    // must still whole-stage-codegen (the WordShingles scaladoc claim)
    val plan = executedPlan("d05_simhash")
    assert(raw"\*\(\d+\)".r.findFirstIn(plan).nonEmpty, plan.take(900))
    assert(raw"\*\(\d+\) Project".r.findAllIn(plan).nonEmpty,
      s"no codegen'd projection around the fallback expr:\n${plan.take(900)}")
  }

  test("news kernels: classifyStream and n05 evaluate them inside codegen spans") {
    // classify/summarize used to score through transform/aggregate
    // lambdas, which are CodegenFallback and ran interpreted per row; the
    // keyword_classify/head_summary kernels generate code in the stage
    val stream = StreamOps.classifyStream(
      Tables.documents(spark, sf).select(col("text").as("value")))
    stream.collect()
    val plans = Seq(
      ("classifyStream", stream.queryExecution.executedPlan.toString,
        Seq("keyword_classify(")),
      ("n05", executedPlan("n05_digest"),
        Seq("keyword_classify(", "head_summary(")))
    for ((name, plan, kernels) <- plans) {
      for (hof <- Seq("transform(", "aggregate("))
        assert(!plan.contains(hof), s"$name still runs a $hof lambda:\n$plan")
      for (k <- kernels)
        assert(plan.linesIterator.exists(l =>
          l.contains(k) && raw"\*\(\d+\)".r.findFirstIn(l).nonEmpty),
          s"$name evaluates $k outside a codegen span:\n$plan")
    }
  }

  test("q63: the CMS counter build (md5 buckets + stack + count) codegens") {
    val plan = executedPlan("q63_cms_heavy_hitters")
    assert(codegenAggs(plan) >= 1,
      s"CMS counter aggregate interpreted:\n${plan.take(900)}")
  }
}
