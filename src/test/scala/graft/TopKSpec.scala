package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{RewriteTopKPerKey, TopKPerKeyExec}

/** The native top-k-per-key operator (q46's machinery) on the shared
  * session, where `GraftExtensions` installs it: rewrite guards, plan
  * shape, and value parity against Spark's window plan (the same body
  * with [[RewriteTopKPerKey]] excluded). */
class TopKSpec extends SparkSpec {

  private def heapsOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect { case t: TopKPerKeyExec => t }

  /** q46's rows under Spark's window plan; asserts the twin has no heap. */
  private def windowTwinRows = withExcludedRules(RewriteTopKPerKey) {
    val window = ops.Relational.q46.run(spark, sf)
    assert(heapsOf(window).isEmpty)
    window.collect().toSeq
  }

  private def idiom(s: org.apache.spark.sql.SparkSession, k: Int) = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  test("plan: two heap nodes (partial under final), zero Window/Sort") {
    val df = idiom(spark, 3)
    // sparkPlan, not executedPlan: the AQE wrapper hides every node
    val plan = df.queryExecution.sparkPlan
    val heaps = plan.collect { case t: TopKPerKeyExec => t }
    assert(heaps.map(_.partial) == Seq(false, true), plan.toString)
    assert(heaps.forall(_.k == 3))
    assert(plan.collect { case w: WindowExec => w }.isEmpty, plan.toString)
    assert(plan.collect { case w: WindowGroupLimitExec => w }.isEmpty)
    assert(plan.collect { case s: SortExec => s }.isEmpty, plan.toString)
  }

  test("value parity with Spark's window plan, and with the oracle idiom") {
    val native = ops.Relational.q46.run(spark, sf)
    // anti-vacuity: the heap runs here, Spark's plan in the twin
    assert(heapsOf(native).nonEmpty)
    val a = native.collect().toSeq
    val b = windowTwinRows
    assert(a == b, s"native=${a.take(5)} window=${b.take(5)}")
    assert(a.nonEmpty)
    // every key retains at most 3 rows, and keys with >= 3 orders exactly 3
    val perKey = a.groupBy(_.get(0)).view.mapValues(_.size)
    assert(perKey.values.forall(_ <= 3))
    assert(perKey.values.exists(_ == 3))
  }

  test("rn = 1 (latest-per-key) and rn < k forms rewrite; k bound honored") {
    val s = spark
    val one = idiom(s, 1) // rn <= 1
    assert(heapsOf(one).map(_.k) == Seq(1, 1))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val lt = model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") < 4)
      .drop("rn")
    assert(heapsOf(lt).map(_.k) == Seq(3, 3))
    val eq = model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    assert(heapsOf(eq).map(_.k) == Seq(1, 1))
    // rn = 1 result == groupBy max under the same total order
    val got = eq.orderBy("o_custkey").collect().map(r => (r.get(0), r.get(1)))
    val want = model.Tables.orders(s, sf)
      .groupBy("o_custkey")
      .agg(max(struct(col("o_totalprice"),
        // orderkey ASC tiebreak under price DESC = min key at max price;
        // negate inside the struct-max to express it
        (-col("o_orderkey")).as("nk"))).as("m"))
      .select(col("o_custkey"), (-col("m.nk")).cast("long").as("o_orderkey"))
      .orderBy("o_custkey").collect().map(r => (r.get(0), r.get(1)))
    assert(got.map(_._1).sameElements(want.map(_._1)))
    assert(got.map(_._2.toString.toLong).sameElements(
      want.map(_._2.toString.toLong)))
  }

  test("guards: rank(), retained rank column, global window stay native-free") {
    val s = spark
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // rank() admits > k rows under ties: not heap-expressible
    val viaRank = model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", rank().over(w)).filter(col("rn") <= 3).drop("rn")
    assert(heapsOf(viaRank).isEmpty)
    // rank column kept in the output: the heap produces no rank values
    val kept = model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(heapsOf(kept).isEmpty)
    // empty partitionBy = global top-k: TakeOrderedAndProject territory
    val global = model.Tables.orders(s, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .filter(col("rn") <= 3).drop("rn")
    assert(heapsOf(global).isEmpty)
    // and every guarded form still answers correctly (values unchanged)
    assert(kept.drop("rn").collect().toSet == windowTwinRows.toSet)
  }

  test("spark.sql.extensions path: configured session and newSession() plan q46 heaps") {
    assert(spark.sparkContext.getConf.get("spark.sql.extensions") ==
      classOf[graft.plans.GraftExtensions].getName)
    for (s <- Seq(spark, spark.newSession()))
      assert(heapsOf(ops.Relational.q46.run(s, sf)).map(_.partial) ==
        Seq(false, true))
  }
}
