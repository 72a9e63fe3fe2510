package graft

import org.apache.spark.sql.functions._

/** Pins q60 (AMS/tug-of-war join-size + F2 estimation): estimates sit in
  * the analytic variance band around the exact audit columns the report
  * itself carries, the exact columns agree with raw-table recomputes,
  * and the sketch-counter invariant (Σ_j c_j over any side's sketch at a
  * fixed j partitions rows by sign, so |c_j| ≤ n) holds. The corpus is
  * fixed so every assertion is deterministic — the bands document the
  * estimator's contract, they do not gamble. */
class AmsSpec extends SparkSpec {

  private val GroupSize = 30 // must match Relational.AmsGroupSize

  private lazy val rows = ops.Relational.q60.run(spark, sf).collect()
  private lazy val byPair = rows.map(r => r.getString(0) ->
    (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6))).toMap

  test("q60: all three pair regimes present") {
    assert(byPair.keySet ==
      Set("events_orders", "lineitem_orders", "lineitem_part"))
  }

  test("q60: exact join sizes equal raw-table recomputes") {
    def joinSize(a: org.apache.spark.sql.DataFrame, ka: String,
        b: org.apache.spark.sql.DataFrame, kb: String): Long =
      a.groupBy(col(ka).as("k")).count().withColumnRenamed("count", "na")
        .join(b.groupBy(col(kb).as("k")).count()
          .withColumnRenamed("count", "nb"), "k")
        .agg(sum(col("na") * col("nb"))).collect()(0).getLong(0)
    assert(byPair("lineitem_orders")._2 ==
      joinSize(model.Tables.lineitem(spark, sf), "l_orderkey",
        model.Tables.orders(spark, sf), "o_orderkey"))
    // FK regime: every lineitem has an order, so |l ⋈ o| = |lineitem|
    assert(byPair("lineitem_orders")._2 ==
      model.Tables.lineitem(spark, sf).count())
    assert(byPair("events_orders")._2 ==
      joinSize(model.Tables.events(spark, sf), "user_id",
        model.Tables.orders(spark, sf), "o_custkey"))
  }

  test("q60: exact F2 equals raw recompute; FK side has F2 = n") {
    def f2(df: org.apache.spark.sql.DataFrame, k: String): Long =
      df.groupBy(col(k)).count().agg(sum(col("count") * col("count")))
        .collect()(0).getLong(0)
    assert(byPair("lineitem_part")._4 ==
      f2(model.Tables.lineitem(spark, sf), "l_partkey"))
    // o_orderkey is unique → self-join size is exactly the row count
    assert(byPair("lineitem_orders")._6 ==
      model.Tables.orders(spark, sf).count())
  }

  test("q60: estimates sit in the 4-sigma AMS variance band") {
    for ((pair, (estJ, exJ, estA, exA, estB, exB)) <- byPair) {
      // inner-product estimator: Var(group mean) <= 2·F2a·F2b / m
      val sigmaJ = math.sqrt(2.0 * exA * exB / GroupSize)
      assert(math.abs(estJ - exJ) <= 4 * sigmaJ,
        s"$pair est_join $estJ vs $exJ (sigma $sigmaJ)")
      // F2 estimator: Var(group mean) <= 2·F2² / m → sigma = F2·sqrt(2/m)
      val rel = math.sqrt(2.0 / GroupSize)
      assert(math.abs(estA - exA) <= 4 * rel * exA,
        s"$pair est_f2_a $estA vs $exA")
      assert(math.abs(estB - exB) <= 4 * rel * exB,
        s"$pair est_f2_b $estB vs $exB")
      // F2 estimates are sums of squares scaled down — never negative
      assert(estA >= 0 && estB >= 0, s"$pair F2 sign")
    }
  }
}
