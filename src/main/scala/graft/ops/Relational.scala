package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.Q
import graft.model.Tables

/** Relational operator catalog over the testdata star schema ([EXT] rows of
  * SURVEY.md §2.5–2.7 plus the scalar pack of §2.3).
  *
  * Everything here is pure `org.apache.spark.sql.functions` — declarative
  * plans that Catalyst is free to reorder, push down, and codegen.
  * Scale design notes per query are in the Scaladoc; the cross-cutting
  * rules are:
  *
  *  - dimension tables (`region`, `nation`, `supplier`, small literal dims)
  *    are joined with an explicit `broadcast()` hint — at 100 TB the fact
  *    tables shuffle-partition on the join key and dims replicate;
  *  - aggregates over 2-decimal money columns go through `DECIMAL` so the
  *    result is independent of partition/merge order (double addition is
  *    not associative; decimal is) — this is what makes the DuckDB oracle
  *    hash-match and, at cluster scale, makes reruns reproducible;
  *  - integer-typed outputs are cast to LONG so the parquet schema matches
  *    DuckDB's BIGINT results;
  *  - every query has a total deterministic ORDER BY (ties broken by key).
  */
object Relational {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Order-insensitive exact sum of a 2-decimal money column, as double. */
  private def moneySum(c: Column): Column = sum(dec2(c)).cast("double")
  private def tsNtz(s: String): Column = lit(s).cast(TimestampNTZType)

  /** Money arithmetic in pure decimal: `price * (1 ± rate)` with both
    * factors cast to decimal BEFORE multiplying. Decimal × decimal is
    * exact (scales add), so the per-row value — and therefore the sum, in
    * any partition order — is bit-identical across engines. Rounding a
    * double PRODUCT to 4 decimals instead (the obvious formulation) is a
    * trap: the product can land exactly on a .00005 tie and Spark
    * (HALF_UP) and DuckDB (round-half-even) break ties differently. */
  private def price12(c: Column): Column = c.cast(DecimalType(12, 2))
  private def rate4(c: Column): Column = c.cast(DecimalType(4, 2))
  private[graft] def discPriceOf(price: Column, disc: Column): Column =
    price12(price) * rate4(lit(1.0) - disc)
  private def chargeOf(price: Column, disc: Column, tax: Column): Column =
    price12(price) * rate4(lit(1.0) - disc) * rate4(lit(1.0) + tax)
  /** SQL fragments matching the above, for the DuckDB oracles. */
  private val DISC_PRICE_SQL =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))"
  private val CHARGE_SQL = DISC_PRICE_SQL + " * CAST(1.0 + l_tax AS DECIMAL(4,2))"

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: scan-heavy partial+final hash agg.
    * At scale: map-side combine on 6 groups means the shuffle carries only
    * num_partitions × 6 rows — bandwidth-free. Filter pushes to parquet. */
  val q01 = Q("q01_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(${DISC_PRICE_SQL}) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(${CHARGE_SQL}) AS DOUBLE) AS sum_charge,
      |  CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val discPrice = discPriceOf(li("l_extendedprice"), li("l_discount"))
    val charge = chargeOf(li("l_extendedprice"), li("l_discount"), li("l_tax"))
    li.filter(li("l_shipdate") <= tsNtz("1998-09-02 00:00:00"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        moneySum(li("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum("l_quantity").cast("double") / count(lit(1))).as("avg_qty"),
        (moneySum(li("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (moneySum(li("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- q02
  /** Top-k sort: `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
    * each partition keeps k rows, driver merges; no full sort at any scale. */
  val q02 = Q("q02_topk_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style: selective dim filter, two fact joins, agg, top-k.
    * customer is fact-scale even after the 1/5 segment filter, so it gets
    * NO broadcast hint — the join shuffles on custkey (AQE may still
    * broadcast at small SF where it measures the side as tiny);
    * orders⋈lineitem shuffles on the orderkey — the natural
    * co-partitioning key for both tables. */
  val q03 = Q("q03_shipping_priority",
    s"""SELECT l_orderkey, o_orderdate,
      |  CAST(sum(${DISC_PRICE_SQL}) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < tsNtz("1998-01-01 00:00:00"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > tsNtz("1998-01-01 00:00:00"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(discPriceOf(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q04
  /** Existential semi-join: never materialises matched lineitem rows, so
    * the join output stays bounded by |orders| regardless of fanout. */
  val q04 = Q("q04_order_priority",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5-style multiway join. Dim chain region→nation broadcasts into
    * the supplier side; customer is a fact table (10⁹+ rows at 100 TB) so
    * its join carries NO hint — it shuffles on custkey (AQE may demote to
    * broadcast at small SF). The two fact joins shuffle on orderkey. The
    * c_nationkey = s_nationkey condition rides on the join. */
  val q05 = Q("q05_region_volume",
    s"""SELECT n_name,
      |  CAST(sum(${DISC_PRICE_SQL}) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("o_orderdate") < tsNtz("1998-01-01 00:00:00"))
    val c = Tables.customer(s, d)
    Tables.lineitem(s, d)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(sum(discPriceOf(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // ---------------------------------------------------------------- q06
  /** TPC-H Q6-style filter-everything agg: the whole WHERE clause reaches
    * the parquet reader as PushedFilters; no shuffle at all (single global
    * agg of partials). The canonical "is pushdown working" probe. */
  val q06 = Q("q06_forecast_revenue",
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= tsNtz("1996-01-01 00:00:00") &&
        col("l_shipdate") < tsNtz("1997-01-01 00:00:00") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(price12(col("l_extendedprice")) * rate4(col("l_discount")))
        .cast("double").as("revenue"))
  }

  // ---------------------------------------------------------------- q07
  /** Window pack: rank / running sum / lag over one shuffle-once window.
    * All three functions share a single Window spec, so Spark sorts each
    * partition once and evaluates the functions in one pass. */
  val q07 = Q("q07_window_orders",
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(rn AS BIGINT) AS rn,
      |  CAST(run_total AS DOUBLE) AS run_total,
      |  prev_price
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    row_number() OVER w AS rn,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS run_total,
      |    lag(o_totalprice) OVER w AS prev_price
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        row_number().over(w).cast("long").as("rn"),
        sum(dec2(col("o_totalprice"))).over(wf).cast("double").as("run_total"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  // ---------------------------------------------------------------- q08
  /** ROLLUP: hierarchical totals in one pass (Expand + single shuffle),
    * not one job per level. NULL grouping cells coalesced to 'ALL' to keep
    * the sort total and the oracle NULL-ordering-independent. */
  val q08 = Q("q08_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy("flag", "status")
  }

  // ---------------------------------------------------------------- q09
  /** CUBE over orders: all 4 grouping combinations in one Expand pass. */
  val q09 = Q("q09_cube",
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       count(*) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")
  }

  // ---------------------------------------------------------------- q10
  /** Exact distinct aggregates. count(DISTINCT) expands to a two-phase
    * agg (distinct-by-key then count) — scales via shuffle on the group
    * key, not by pulling distinct sets to one node. */
  val q10 = Q("q10_distinct_agg",
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  sum(DISTINCT l_quantity) AS sum_distinct_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        sum_distinct(col("l_quantity")).as("sum_distinct_qty"))
      .orderBy("l_returnflag")
  }

  /** HyperLogLog++ cardinality — the sketch that replaces exact distinct
    * at 100 TB (mergeable, fixed-size state). No DuckDB oracle: sketch
    * estimates are implementation-defined; the spec asserts bounds. */
  val q10b = Q.noOracle("q10b_approx_distinct") { (s, d) =>
    Tables.lineitem(s, d)
      .agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count_distinct(col("l_orderkey")).as("exact_orders"))
  }

  /** q10c's design constants: m = 2^P registers; W hex chars of rank
    * stream (4W bits); alpha as an exact ppm integer (the published
    * alpha_256 = 0.7213/(1 + 1.079/256) truncated to 6 decimals — a
    * DESIGN constant of this sketch, not a runtime float). */
  private val HllP = 8          // 2^8 = 256 registers
  private val HllM = 1 << HllP
  private val HllW = 13         // 13 hex chars = 52 rank bits
  private val HllAlphaPpm = 718271L
  private val HllShiftBase = 1L << (4 * HllW + 1) // 2^53: rho=0 scale

  /** The deterministic HLL register table for one column: (colname, reg,
    * rho) with reg from the first 2 md5 hex chars (salted per column) and
    * rho = leading-zero BITS of the next 13 hex chars + 1, computed
    * entirely with string ops — ltrim('0') for whole zero hex chars plus
    * a 4-way CASE on the first surviving digit. No log2/ln anywhere, so
    * both engines derive bit-identical register states (t17's
    * determinism discipline applied to cardinality sketching). */
  private[graft] def hllRegisters(df: DataFrame, c: String): DataFrame = {
    val h = md5(concat(lit(c + ":"), col(c).cast("string")))
    val s = substring(h, 3, HllW)
    val t = ltrim(s, "0")
    val d = substring(t, 1, 1)
    val extra = when(d === "1", 3)
      .when(d.isin("2", "3"), 2)
      .when(d.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(length(t) === 0, lit(4 * HllW + 1))
      .otherwise((length(s) - length(t)) * 4 + extra + 1)
    df.select(lit(c).as("colname"),
      conv(substring(h, 1, 2), 16, 10).cast("int").as("reg"),
      rho.cast("int").as("rho"))
      .groupBy("colname", "reg").agg(max("rho").cast("int").as("rho"))
  }

  /** Fully-oracled distinct-count sketch (r06 verdict #2) — q10b's HLL
    * made cross-engine-deterministic so the whole approx-distinct family
    * flips to hash-green: both engines build the SAME 256-register state
    * ([[hllRegisters]]) and derive the SAME integer estimate. The
    * harmonic mean runs in exact integer arithmetic: each register
    * contributes 2^(53-rho) (a left shift, never pow()), empties
    * contribute 2^53, and the estimate alpha*m^2/denom is one DECIMAL(38)
    * integral division with alpha an exact ppm constant — no
    * transcendental touches any value (the textbook estimator's ln/pow
    * would hash-mismatch on libm-vs-JVM ulps). No small-range correction
    * by design (it needs ln); `SketchSpec` bounds the error vs exact at
    * the tested cardinalities and pins merge-by-max mergeability — the
    * property that makes the sketch the 100 TB answer (fixed 256-register
    * state per column, map-side combinable, shuffle-free to merge).
    * Output = register state + estimate, so the hash compare pins BOTH. */
  /** The register-derivation CTE block over a `src(colname, h)` relation
    * — spliced into the q10c and st15 oracles so both engines AND both
    * queries share one definition (the cmsCellCtes discipline). NB: no
    * continuation line here may BEGIN with `|` (host stripMargin). */
  private[graft] val hllRegCtes: String =
    s"""parts AS (
       |  SELECT colname,
       |    CAST(concat('0x', substr(h, 1, 2)) AS BIGINT) AS reg,
       |    substr(h, 3, $HllW) AS s, ltrim(substr(h, 3, $HllW), '0') AS t
       |  FROM src),
       |regs AS (
       |  SELECT colname, reg, max(CASE WHEN t = '' THEN ${4 * HllW + 1}
       |    ELSE (length(s) - length(t)) * 4 +
       |      CASE WHEN substr(t, 1, 1) = '1' THEN 3
       |           WHEN substr(t, 1, 1) IN ('2', '3') THEN 2
       |           WHEN substr(t, 1, 1) IN ('4', '5', '6', '7') THEN 1
       |           ELSE 0 END + 1 END) AS rho
       |  FROM parts GROUP BY colname, reg)""".stripMargin

  val q10c = Q("q10c_hll_registers",
    s"""WITH src AS (
      |  SELECT 'l_orderkey' AS colname,
      |    md5('l_orderkey:' || CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem
      |  UNION ALL
      |  SELECT 'l_partkey',
      |    md5('l_partkey:' || CAST(l_partkey AS VARCHAR)) FROM lineitem),
      |$hllRegCtes,
      |summ AS (
      |  SELECT colname, count(*) AS occupied,
      |    sum(CAST(1 AS BIGINT) << (${4 * HllW + 1} - rho)) AS occ_denom
      |  FROM regs GROUP BY colname),
      |est AS (
      |  SELECT colname,
      |    CAST((CAST($HllAlphaPpm AS HUGEINT) * ${HllM.toLong * HllM} *
      |            CAST($HllShiftBase AS HUGEINT)) //
      |         ((CAST(occ_denom AS HUGEINT) +
      |           ($HllM - occupied) * CAST($HllShiftBase AS HUGEINT)) * 1000000)
      |      AS BIGINT) AS est_distinct
      |  FROM summ)
      |SELECT r.colname, CAST(r.reg AS INT) AS reg, CAST(r.rho AS INT) AS rho,
      |  e.est_distinct
      |FROM regs r JOIN est e USING (colname)
      |ORDER BY colname, reg""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val regs = hllRegisters(li, "l_orderkey")
      .unionAll(hllRegisters(li, "l_partkey"))
    val est = regs.groupBy("colname")
      .agg(count(lit(1)).as("occupied"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${4 * HllW + 1} - rho)"))
          .as("occ_denom"))
      .select(col("colname"), expr(
        s"""CAST((CAST($HllAlphaPpm AS DECIMAL(38,0)) * ${HllM.toLong * HllM} *
           |  CAST($HllShiftBase AS DECIMAL(38,0))) div
           |  ((CAST(occ_denom AS DECIMAL(38,0)) +
           |    ($HllM - occupied) * CAST($HllShiftBase AS DECIMAL(38,0))) * 1000000)
           |""".stripMargin.replace("\n", " ") + " AS BIGINT)").as("est_distinct"))
    regs.join(broadcast(est), Seq("colname"))
      .select(col("colname"), col("reg"), col("rho"), col("est_distinct"))
      .orderBy("colname", "reg")
  }

  // ---------------------------------------------------------------- q11
  /** Set operations. Spark `union` is UNION ALL (no dedup shuffle);
    * intersect/except are distinct-set semantics, same as SQL. */
  val q11 = Q("q11_setops",
    """SELECT op, n FROM (
      |  SELECT 'except' AS op, count(*) AS n FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    EXCEPT
      |    SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      |  UNION ALL
      |  SELECT 'intersect', count(*) FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT
      |    SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      |  UNION ALL
      |  SELECT 'union_all', count(*) FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    UNION ALL
      |    SELECT c_custkey FROM customer WHERE c_acctbal > 0))
      |ORDER BY op""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = c.filter(col("c_acctbal") > 0).select("c_custkey")
    def tagged(op: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    tagged("except", a.except(b))
      .unionByName(tagged("intersect", a.intersect(b)))
      .unionByName(tagged("union_all", a.union(b)))
      .orderBy("op")
  }

  // ---------------------------------------------------------------- q12
  /** Range (theta) join against a tiny literal band dim → broadcast
    * nested-loop with 3 rows on the build side: effectively a map-side
    * CASE, no shuffle. The pattern for binning a 100 TB fact table. */
  val q12 = Q("q12_range_join",
    """SELECT band, count(*) AS n,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM part
      |JOIN (VALUES ('low', 0.0, 1000.0), ('mid', 1000.0, 1500.0),
      |             ('high', 1500.0, 1000000.0)) AS b(band, lo, hi)
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin) { (s, d) =>
    import s.implicits._
    val bands = Seq(("low", 0.0, 1000.0), ("mid", 1000.0, 1500.0),
      ("high", 1500.0, 1000000.0)).toDF("band", "lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n"), moneySum(col("p_retailprice")).as("total_price"))
      .orderBy("band")
  }

  // ---------------------------------------------------------------- q13
  /** Scalar function pack (SURVEY §2.3 [EXT]): string/date/math built-ins,
    * all codegen'd inside one WholeStageCodegen projection. */
  val q13 = Q("q13_scalar_pack",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS y,
      |  CAST(month(o_orderdate) AS BIGINT) AS m,
      |  upper(o_orderpriority) AS pri_u,
      |  substring(o_orderpriority, 1, 1) AS pri_c,
      |  CAST(length(o_orderstatus) AS BIGINT) AS st_len,
      |  abs(o_totalprice - 1000.0) AS adiff,
      |  CAST(floor(o_totalprice) AS BIGINT) AS fl,
      |  CAST(ceil(o_totalprice) AS BIGINT) AS ce,
      |  concat(o_orderstatus, '-', o_orderpriority) AS tag,
      |  CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS BIGINT) AS days_since
      |FROM orders
      |WHERE o_orderkey <= 100
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        upper(col("o_orderpriority")).as("pri_u"),
        substring(col("o_orderpriority"), 1, 1).as("pri_c"),
        length(col("o_orderstatus")).cast("long").as("st_len"),
        abs(col("o_totalprice") - 1000.0).as("adiff"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        datediff(col("o_orderdate"), tsNtz("1995-01-01 00:00:00"))
          .cast("long").as("days_since"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q14
  /** Conditional aggregation (TPC-H Q14-style promo share): CASE WHEN
    * inside sum, two decimal sums, one double division at the end.
    * part is ~20% of lineitem's key space — NOT a dim — so the join is
    * unhinted: it shuffles on partkey (bucketing both tables on partkey
    * would make it zero-shuffle; see [[Bucketing]]). */
  val q14 = Q("q14_promo_share",
    s"""SELECT
      |  CAST(sum(CASE WHEN p_type = 'PROMO'
      |        THEN ${DISC_PRICE_SQL}
      |        ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE) * 100.0
      |  / CAST(sum(${DISC_PRICE_SQL}) AS DOUBLE)
      |  AS promo_share
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    val discPrice = discPriceOf(col("l_extendedprice"), col("l_discount"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", discPrice)
          .otherwise(lit(0).cast(DecimalType(17, 4)))).cast("double") * 100.0 /
          sum(discPrice).cast("double")).as("promo_share"))
  }

  // ---------------------------------------------------------------- q15
  /** Anti join: customers with no RECENT order (date predicate pushed to
    * the probe-side scan), counted per nation. The anti join shuffles on
    * custkey; nation broadcasts. */
  val q15 = Q("q15_customers_without_orders",
    """SELECT n_name, count(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= tsNtz("2000-01-01 00:00:00"))
    val n = Tables.nation(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q16
  /** Full outer join on an aggregated key — exercises null-producing
    * sides; supplier vs customer account balances joined per nation. */
  val q16 = Q("q16_full_outer_balance",
    """SELECT coalesce(cn, sn) AS nation,
      |  coalesce(c_cnt, 0) AS customers, coalesce(s_cnt, 0) AS suppliers
      |FROM
      |  (SELECT n_name AS cn, count(*) AS c_cnt FROM customer
      |   JOIN nation ON c_nationkey = n_nationkey
      |   WHERE c_acctbal > 5000 GROUP BY n_name) c
      |FULL OUTER JOIN
      |  (SELECT n_name AS sn, count(*) AS s_cnt FROM supplier
      |   JOIN nation ON s_nationkey = n_nationkey
      |   WHERE s_acctbal > 5000 GROUP BY n_name) s
      |ON cn = sn
      |ORDER BY nation""".stripMargin) { (s, d) =>
    val n = broadcast(Tables.nation(s, d))
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("cn")).agg(count(lit(1)).as("c_cnt"))
    val sup = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("sn")).agg(count(lit(1)).as("s_cnt"))
    c.join(sup, col("cn") === col("sn"), "full_outer")
      .select(coalesce(col("cn"), col("sn")).as("nation"),
        coalesce(col("c_cnt"), lit(0L)).as("customers"),
        coalesce(col("s_cnt"), lit(0L)).as("suppliers"))
      .orderBy("nation")
  }

  // ---------------------------------------------------------------- q17
  /** Pivot: order counts per nation × status. `groupBy(...).pivot(...)`
    * with an explicit value list — one Expand-free aggregation pass; the
    * oracle is the equivalent conditional aggregation (which is exactly
    * what Spark lowers pivot to). */
  val q17 = Q("q17_pivot",
    """SELECT n_name,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("n_name"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"),
        coalesce(col("P"), lit(0L)).as("p_cnt"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------- q18
  /** Scalar subquery: customers above the global average balance,
    * expressed as a 1-row broadcast cross join — the plan shape Catalyst
    * gives `WHERE x > (SELECT avg(..))`, with no driver-side action. The
    * mean goes through a decimal sum so it is partition-order-free. */
  val q18 = Q("q18_scalar_subquery",
    """SELECT c_custkey, c_acctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |                          / count(*) FROM customer)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val m = c.agg((moneySum(col("c_acctbal")) / count(lit(1))).as("m"))
    c.join(broadcast(m))
      .filter(col("c_acctbal") > col("m"))
      .select("c_custkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q19
  /** Exact percentiles (interpolated, SQL-standard continuous quantile):
    * quantity values are integer-valued doubles, so the interpolation
    * arithmetic is exact in both engines. `percentile()` in Spark is the
    * exact (sort-based) aggregate — at 100 TB you'd reach for
    * `approx_percentile` (KLL-sketch, mergeable); that variant is
    * engine-specific and covered rows-only in q19b. */
  val q19 = Q("q19_percentiles",
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_extendedprice, 0.5) AS median_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .orderBy("l_returnflag")
  }

  /** Sketch-based percentile — the 100 TB path (fixed-size mergeable
    * state); estimates are implementation-defined → rows-only. The sketch
    * array is flattened to scalar columns (p50/p90/p99) so downstream
    * consumers — and the driver's sort-based row check — see a flat,
    * orderable frame rather than an array column. */
  val q19b = Q.noOracle("q19b_approx_percentiles") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000)")
        .as("q"))
      .select(col("l_returnflag"),
        element_at(col("q"), 1).as("p50_price"),
        element_at(col("q"), 2).as("p90_price"),
        element_at(col("q"), 3).as("p99_price"))
      .orderBy("l_returnflag")
  }

  /** q19c's bucket width: $1000 in cents — the sketch's resolution (and
    * its error bound: every estimate lands within one bucket of the
    * exact quantile value). */
  private val HistW = 100000L

  /** Deterministic mergeable quantile sketch (r06 verdict #3) — q19b's
    * approx-percentile made fully oracled: a FIXED-BOUNDARY histogram in
    * exact integer cents (prices quantised once via DECIMAL(18,2), the
    * repo money convention). The sketch state is (flag, cell, count)
    * with cell = cents DIV $HistW — merging two sketches is cell-wise
    * count ADDITION (associative/commutative, map-side combinable, the
    * property `SketchSpec` pins), and any quantile is one cumulative
    * walk: rank r(q) = ceil(q·n) computed as an exact integer
    * ((q·n rounded up) via (a·n + a) DIV b — never a double multiply),
    * the answer cell is the unique row with prev < r ≤ cum, and the
    * within-cell position interpolates with one integral division.
    * No floating point touches any value, so DuckDB replays the sketch
    * bit-for-bit — unlike the KLL/GK sketches (q19b), whose compaction
    * choices are engine-internal. Error is a priori bounded by the
    * bucket width; at 100 TB the state is ≤ |price range|/W cells per
    * group regardless of row count. */
  val q19c = Q("q19c_histogram_quantiles",
    s"""WITH src AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |cells AS (
      |  SELECT flag, cents // $HistW AS cell, count(*) AS c
      |  FROM src GROUP BY flag, cell),
      |walk AS (
      |  SELECT flag, cell, c,
      |    sum(c) OVER (PARTITION BY flag ORDER BY cell) AS cum,
      |    sum(c) OVER (PARTITION BY flag ORDER BY cell) - c AS prev,
      |    sum(c) OVER (PARTITION BY flag) AS n
      |  FROM cells)
      |SELECT flag AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN prev < (n + 1) // 2 AND (n + 1) // 2 <= cum
      |    THEN cell * $HistW +
      |      (((n + 1) // 2 - prev) * $HistW) // (c + 1) END) AS BIGINT)
      |    AS p50_cents,
      |  CAST(min(CASE WHEN prev < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= cum
      |    THEN cell * $HistW +
      |      (((9 * n + 9) // 10 - prev) * $HistW) // (c + 1) END) AS BIGINT)
      |    AS p90_cents,
      |  CAST(min(CASE WHEN prev < (99 * n + 99) // 100 AND (99 * n + 99) // 100 <= cum
      |    THEN cell * $HistW +
      |      (((99 * n + 99) // 100 - prev) * $HistW) // (c + 1) END) AS BIGINT)
      |    AS p99_cents
      |FROM walk GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    val walk = histCells(Tables.lineitem(s, d))
      .withColumn("cum", sum("c").over(
        Window.partitionBy("flag").orderBy("cell")))
      .withColumn("prev", col("cum") - col("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("flag")))
    def quantile(num: Int, den: Int): Column = {
      val r = expr(s"($num * n + $num) DIV $den")
      min(when(col("prev") < r && r <= col("cum"),
        col("cell") * HistW +
          expr(s"((($num * n + $num) DIV $den - prev) * $HistW) DIV (c + 1)")))
        .cast("long")
    }
    walk.groupBy(col("flag").as("l_returnflag"))
      .agg(max("n").cast("long").as("n"),
        quantile(1, 2).as("p50_cents"),
        quantile(9, 10).as("p90_cents"),
        quantile(99, 100).as("p99_cents"))
      .orderBy("l_returnflag")
  }

  /** q19c's sketch state over lineitem: one row per (flag, price cell).
    * Factored out so `SketchSpec` can build half-sketches and pin the
    * cell-addition merge law on the same definition. */
  private[graft] def histCells(li: DataFrame): DataFrame =
    li.select(col("l_returnflag").as("flag"),
      expr(s"CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
      .groupBy(col("flag"), expr(s"cents DIV $HistW").as("cell"))
      .agg(count(lit(1)).as("c"))

  // ---------------------------------------------------------------- q20
  /** As-of join (SURVEY.md §2.6's "operator Spark lacks" tier): each
    * event picks the value of the user's latest signup at-or-before its
    * timestamp. Composed from built-ins (preference (a) of §7.3): tag
    * both sides, union, one window pass with `last(value, ignoreNulls)`,
    * keep left rows — a single shuffle on (user, time) versus the
    * quadratic range join a naive formulation would plan. Ties at equal
    * timestamps order the right side first, matching ASOF's `>=`.
    * Ordering uses the raw nanosecond longs — full precision, no
    * timestamp-type coercion in either engine. */
  val q20 = Q("q20_asof_join",
    """SELECT e.event_id, s.value AS signup_value
      |FROM events e
      |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
      |                WHERE event_type = 'signup') s
      |  ON e.user_id = s.user_id AND e.ts >= s.ts
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val left = ev.select(col("event_id"), col("user_id"), col("ts"),
      lit(1).as("tag"), lit(null).cast("double").as("v"))
    val right = ev.filter(col("event_type") === "signup")
      .select(lit(null).cast("long").as("event_id"), col("user_id"),
        col("ts"), lit(0).as("tag"), col("value").as("v"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("signup_value", last(col("v"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select("event_id", "signup_value")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q21
  /** Analytic-function pack #2: ntile / percent_rank / cume_dist /
    * first_value / nth_value, one shared shuffle-once window (explicit
    * full frame for the value functions — default frames differ subtly
    * between engines). */
  val q21 = Q("q21_window_analytics",
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cdist,
      |  first_value(o_totalprice) OVER wf AS first_price,
      |  nth_value(o_totalprice, 2) OVER wf AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        first(col("o_totalprice")).over(wf).as("first_price"),
        nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- q22
  /** Correlated scalar subquery (orders above their own customer's
    * average), written directly in its decorrelated form — per-key
    * aggregate + equi-join — which is exactly what Catalyst rewrites the
    * correlated SQL into (§4 "subquery decorrelation" row). The per-key
    * mean is decimal-exact so the comparison is engine-order-free. */
  val q22 = Q("q22_correlated_subquery",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > (SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |                             / count(*)
      |                      FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val perCust = o.groupBy(col("o_custkey").as("k"))
      .agg((moneySum(col("o_totalprice")) / count(lit(1))).as("cust_avg"))
    o.join(perCust, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q23
  /** Explicit GROUPING SETS (the non-hierarchical shape rollup/cube
    * can't express): per-flag totals, per-status totals, grand total —
    * one Expand pass. Declared via `spark.sql` over a temp view, the
    * engine's SQL entry point (SURVEY.md §1 API surface). */
  val q23 = Q("q23_grouping_sets",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY flag, status""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin)
  }

  // ---------------------------------------------------------------- q24
  /** String function pack #2: reverse / lpad / rpad / translate /
    * levenshtein / split_part — codegen'd built-ins with DuckDB
    * equivalents. */
  val q24 = Q("q24_string_pack",
    """SELECT p_partkey,
      |  reverse(p_brand) AS brand_rev,
      |  starts_with(p_type, 'P') AS is_p,
      |  lpad(p_brand, 12, '.') AS brand_pad,
      |  rpad(p_type, 10, '-') AS type_pad,
      |  translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
      |  CAST(levenshtein(p_type, 'PROMO') AS BIGINT) AS lev,
      |  split_part(p_brand, '#', 2) AS brand_num
      |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"),
        reverse(col("p_brand")).as("brand_rev"),
        col("p_type").startsWith("P").as("is_p"),
        lpad(col("p_brand"), 12, ".").as("brand_pad"),
        rpad(col("p_type"), 10, "-").as("type_pad"),
        translate(col("p_type"), "AEIOU", "aeiou").as("type_tr"),
        levenshtein(col("p_type"), lit("PROMO")).cast("long").as("lev"),
        expr("split_part(p_brand, '#', 2)").as("brand_num"))
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q25
  /** TPC-H Q13-style two-level aggregation: orders-per-customer (left
    * outer join so zero-order customers count), then the histogram of
    * those counts. Two shuffles, each on a different key — the
    * aggregate-of-aggregate shape. */
  val q25 = Q("q25_order_count_histogram",
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // ---------------------------------------------------------------- q26
  /** TPC-H Q11-style HAVING against a global scalar: nations whose total
    * customer balance exceeds 4.5% of the worldwide total (= above-average share across the 25 nations). The fraction is
    * a 1-row broadcast joined into the post-aggregation filter —
    * HAVING-with-subquery as dataflow. Decimal sums keep both the
    * per-nation values and the threshold engine-order-free. */
  val q26 = Q("q26_having_scalar",
    """SELECT n_name,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |HAVING CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) >
      |  (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) * 0.045
      |   FROM customer)
      |ORDER BY total_bal DESC, n_name""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val threshold = c.agg((moneySum(col("c_acctbal")) * 0.045).as("thresh"))
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(moneySum(col("c_acctbal")).as("total_bal"))
      .join(broadcast(threshold))
      .filter(col("total_bal") > col("thresh"))
      .select("n_name", "total_bal")
      .orderBy(col("total_bal").desc, col("n_name"))
  }

  // ---------------------------------------------------------------- q27
  /** Latest-record-per-key — the warehouse "current state from a
    * changelog" op: row_number over (key, recency) and keep rank 1. One
    * shuffle on the key; the window partitions by custkey so no global
    * ordering bottleneck (contrast n02's unpartitioned-window trap).
    * Ties (same date) break on o_orderkey for determinism. */
  val q27 = Q("q27_latest_per_key",
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- q28
  /** Batch upsert/MERGE: apply a change set to a base table — matched
    * keys take the change row, unmatched changes insert, the rest of the
    * base passes through. Expressed as a full outer join + coalesce (the
    * exact dataflow a MERGE INTO lowers to without a transactional table
    * format). The change set here is derived deterministically from the
    * base (balance reset for custkey % 100 = 0, plus synthetic new keys)
    * so the oracle constructs the identical one. Shuffles once on the
    * key; at 100 TB both sides would be bucketed on custkey → zero
    * shuffle (see Bucketing). */
  val q28 = Q("q28_upsert_merge",
    """WITH changes AS (
      |  SELECT c_custkey, 0.0 AS new_bal FROM customer WHERE c_custkey % 100 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 100.0 AS new_bal FROM customer
      |  WHERE c_custkey % 500 = 0)
      |SELECT coalesce(c.c_custkey, ch.c_custkey) AS custkey,
      |  CAST(coalesce(ch.new_bal, c.c_acctbal) AS DOUBLE) AS acctbal,
      |  ch.new_bal IS NOT NULL AS updated
      |FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.c_custkey
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val changes = c.filter(col("c_custkey") % 100 === 0)
      .select(col("c_custkey"), lit(0.0).as("new_bal"))
      .unionByName(c.filter(col("c_custkey") % 500 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit(100.0).as("new_bal")))
    c.join(changes, Seq("c_custkey"), "full_outer")
      .select(col("c_custkey").as("custkey"),
        coalesce(col("new_bal"), col("c_acctbal")).cast("double").as("acctbal"),
        col("new_bal").isNotNull.as("updated"))
      .orderBy("custkey")
  }

  // ---------------------------------------------------------------- q29
  /** Multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicity (min / difference of counts), a distinct semantic
    * from q11's distinct variants. Operands are segment-filtered
    * customer nation keys, which repeat heavily, so multiplicities are
    * load-bearing: a distinct implementation returns different counts.
    * Spark lowers both to aggregate+generate — no new shuffle shape. */
  val q29 = Q("q29_multiset_ops",
    """SELECT 'intersect_all' AS op, count(*) AS n,
      |  CAST(coalesce(sum(k), 0) AS BIGINT) AS total
      |FROM (SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |      INTERSECT ALL
      |      SELECT c_nationkey FROM customer WHERE c_acctbal > 0)
      |UNION ALL
      |SELECT 'except_all', count(*), CAST(coalesce(sum(k), 0) AS BIGINT)
      |FROM (SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |      EXCEPT ALL
      |      SELECT c_nationkey FROM customer WHERE c_acctbal > 0)
      |ORDER BY op""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("k"))
    val b = c.filter(col("c_acctbal") > 0).select(col("c_nationkey").as("k"))
    val ia = a.intersectAll(b)
      .agg(count(lit(1)).as("n"), coalesce(sum("k"), lit(0L)).as("total"))
      .select(lit("intersect_all").as("op"), col("n"), col("total"))
    val ea = a.exceptAll(b)
      .agg(count(lit(1)).as("n"), coalesce(sum("k"), lit(0L)).as("total"))
      .select(lit("except_all").as("op"), col("n"), col("total"))
    ia.unionByName(ea).orderBy("op")
  }

  // ---------------------------------------------------------------- q30
  /** Funnel analysis: users who progressed view → click → purchase in
    * temporal order. One aggregation computes each user's FIRST
    * occurrence of every stage (conditional min — map-side combined),
    * then the ordering predicate checks stage-by-stage progression;
    * counts per reached stage come from one conditional projection. No
    * window needed at all: first-occurrence semantics make the funnel a
    * plain groupBy, the cheapest possible shape at 100 TB. Timestamps
    * compare as raw nanos longs — full precision. */
  val q30 = Q("q30_funnel",
    """WITH stages AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT
      |  count(*) AS n_users,
      |  count(*) FILTER (WHERE t_view IS NOT NULL) AS reached_view,
      |  count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
      |    AS reached_click,
      |  count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
      |                     AND t_purchase > t_click) AS reached_purchase
      |FROM stages""".stripMargin) { (s, d) =>
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val stages = Tables.events(s, d)
      .groupBy("user_id")
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
    val viewed = col("t_view").isNotNull
    val clicked = viewed && col("t_click") > col("t_view")
    val purchased = clicked && col("t_purchase") > col("t_click")
    stages.agg(
      count(lit(1)).as("n_users"),
      count(when(viewed, 1)).as("reached_view"),
      count(when(clicked, 1)).as("reached_click"),
      count(when(purchased, 1)).as("reached_purchase"))
  }

  // ---------------------------------------------------------------- q31
  /** Time-series gap fill: a generated hourly timeline per event_type
    * left-joins observed counts so silent hours surface as explicit
    * zeros (dashboards/anomaly detection need the zero rows). The
    * timeline comes from `sequence()` over the global [min, max] hour
    * span — a 1-row aggregate exploded per type, NOT a driver loop; at
    * any scale the timeline side is |types| × hours, trivially
    * broadcast into the join. */
  val q31 = Q("q31_gap_fill",
    """WITH hourly AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
      |timeline AS (
      |  SELECT t.event_type, g.h
      |  FROM (SELECT DISTINCT event_type FROM hourly) t,
      |       (SELECT unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |        FROM span) g)
      |SELECT tl.event_type, tl.h AS hour, coalesce(hy.n, 0) AS n
      |FROM timeline tl LEFT JOIN hourly hy
      |  ON hy.event_type = tl.event_type AND hy.h = tl.h
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev0 = Tables.events(s, d)
    val ev = ev0.withColumn("ts", EventStreams.eventTs(ev0))
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val span = hourly.agg(min("h").as("h0"), max("h").as("h1"))
    val timeline = hourly.select("event_type").distinct()
      .join(broadcast(span))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    timeline.as("tl")
      .join(hourly.as("hy"),
        col("hy.event_type") === col("tl.event_type") &&
          col("hy.h") === col("tl.h"), "left_outer")
      .select(col("tl.event_type"), col("tl.h").as("hour"),
        coalesce(col("hy.n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  // ---------------------------------------------------------------- q32
  /** Higher-order array function pack: per-order quantity vectors built
    * DETERMINISTICALLY (collect_list is partition-order-lucky, so the
    * array is assembled as sort_array(collect(struct(linenumber, qty)))
    * → transform — the only safe way to aggregate into an ordered array
    * on a distributed engine), then filter / fold / max / slice over it.
    * The synthetic lineitem has DUPLICATE (orderkey, linenumber) rows,
    * so the sort key includes the quantity tiebreak (sort_array gives it
    * for free via the struct; the oracle must spell it out — found by
    * the hash gate). Quantities are integer-valued → sums exact. */
  val q32 = Q("q32_hof_pack",
    """SELECT l_orderkey,
      |  CAST(len(list_filter(qs, q -> q > 25)) AS BIGINT) AS n_big,
      |  CAST(list_sum(qs) AS BIGINT) AS total_qty,
      |  list_max(qs) AS max_qty,
      |  array_to_string(qs[1:3], ',') AS head3
      |FROM (
      |  SELECT l_orderkey,
      |    list_transform(list(l_quantity ORDER BY l_linenumber, l_quantity),
      |                   x -> CAST(x AS BIGINT)) AS qs
      |  FROM lineitem
      |  WHERE l_orderkey % 100 = 1
      |  GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 1)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"),
        col("l_quantity").cast("long").as("q")))).as("qs0"))
      .select(col("l_orderkey"), expr("transform(qs0, x -> x.q)").as("qs"))
      .select(col("l_orderkey"),
        size(expr("filter(qs, q -> q > 25)")).cast("long").as("n_big"),
        expr("aggregate(qs, 0L, (a, x) -> a + x)").as("total_qty"),
        array_max(col("qs")).as("max_qty"),
        array_join(slice(col("qs"), 1, 3), ",").as("head3"))
      .orderBy("l_orderkey")
  }

  // ---------------------------------------------------------------- q33
  /** RANGE-interval window frame — the value-based frame ROWS frames
    * can't express: each order sees the count/sum of the SAME
    * customer's orders in the trailing 90 days, peers (same-day orders)
    * included by definition. The frame is defined on an integer day
    * ordinal so both engines bound it identically; money sums go
    * through DECIMAL so frame-internal addition order can't wobble the
    * double. Partitioned by customer — parallel at any scale. */
  val q33 = Q("q33_range_window",
    """SELECT o_orderkey, o_custkey,
      |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |  CAST(count(*) OVER w AS BIGINT) AS n_90d,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_90d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1970-01-01").cast("date")).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-90, org.apache.spark.sql.expressions.Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
        col("o_totalprice"))
      .withColumn("n_90d", count(lit(1)).over(w).cast("long"))
      .withColumn("value_90d",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "day", "n_90d", "value_90d")
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q34
  /** Conditional aggregation (the FILTER clause): several differently-
    * filtered aggregates in ONE scan-and-shuffle pass — the idiom that
    * replaces N self-joining subqueries. Spark expresses FILTER as
    * `agg(when(cond, x))`; the plan is a single hash aggregate either
    * way. Counts stay integral; the filtered money sum goes through
    * DECIMAL; the share divides longs cast to double (one division,
    * bit-identical). */
  val q34 = Q("q34_filtered_agg",
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
      |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |                FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS finished_value,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS open_share
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val nOpen = count(when(col("o_orderstatus") === "O", 1))
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("long").as("n_total"),
        count(when(col("o_orderstatus") === "F", 1)).cast("long").as("n_finished"),
        nOpen.cast("long").as("n_open"),
        coalesce(sum(when(col("o_orderstatus") === "F",
            col("o_totalprice").cast("decimal(18,2)"))), lit(0))
          .cast("double").as("finished_value"),
        (nOpen.cast("double") / count(lit(1)).cast("double")).as("open_share"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q35
  /** Last-observation-carried-forward backfill (LOCF) — the sensor/event
    * gap-repair pattern behind feature pipelines: `error` events carry
    * no reading (NULL), and each row's `filled` value is the latest
    * non-null reading at-or-before it within the user's timeline —
    * `last(..., ignoreNulls)` over a running frame, the IGNORE NULLS
    * window tier q07/q21 don't cover. Ordering runs on the raw nanos
    * LONG (exact, pre-conversion) with the event_id tiebreak; readings
    * pass through untouched (no arithmetic → bit-exact cross-engine);
    * rows before a user's first reading stay NULL. Key-partitioned
    * window — users backfill in parallel at any scale. */
  val q35 = Q("q35_locf_backfill",
    """SELECT user_id, event_id,
      |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS reading,
      |  last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
      |             IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val reading =
      when(col("event_type") === "error", lit(null)).otherwise(col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("reading", reading)
      .select(col("user_id"), col("event_id"), col("reading"),
        last(col("reading"), ignoreNulls = true).over(w).as("filled"))
      .orderBy("user_id", "event_id")
  }

  // --------------------------------------------------------------- q36
  /** Correlation / regression / dispersion pack via EXACT moment sums —
    * the cross-engine-deterministic form of `corr`, `stddev_samp`,
    * `regr_slope`, `regr_intercept`. Built-in `corr()` accumulates
    * doubles in partition order, so two runs (or two engines) can
    * differ in the last ulps and fail a hash compare; instead the five
    * moments (Σx, Σy, Σxy, Σx², Σy²) are summed EXACTLY — inputs
    * quantised to integer cents as DECIMAL(18,0) factors (products stay
    * inside width 37, which BOTH engines' decimal multiply accept), the
    * sums widening to 128-bit-backed decimals on each side — and the
    * statistics are assembled from those exact moments in ONE fixed
    * double expression per engine. Same single-shuffle hash-agg plan as
    * any groupBy at 100 TB (partial aggregation works on decimals);
    * only the handful of final divisions happen in floating point. */
  val q36 = Q("q36_exact_stats",
    """WITH m AS (
      |  SELECT l_returnflag AS flag, count(*) AS n,
      |    sum(CAST(CAST(round(l_quantity      * 100) AS BIGINT) AS DECIMAL(18,0))) AS sx,
      |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS sy,
      |    sum(CAST(CAST(round(l_quantity      * 100) AS BIGINT) AS DECIMAL(18,0))
      |      * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS sxy,
      |    sum(CAST(CAST(round(l_quantity      * 100) AS BIGINT) AS DECIMAL(18,0))
      |      * CAST(CAST(round(l_quantity      * 100) AS BIGINT) AS DECIMAL(18,0))) AS sxx,
      |    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))
      |      * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT flag, CAST(n AS BIGINT) AS n,
      |  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    AS corr_qty_price,
      |  sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * (n - 1))) / 100 AS stddev_qty,
      |  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    AS regr_slope,
      |  (CAST(sy AS DOUBLE) - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * CAST(sx AS DOUBLE)) / n / 100 AS regr_intercept
      |FROM m ORDER BY flag""".stripMargin) { (s, d) =>
    val xc = "CAST(CAST(round(l_quantity      * 100) AS BIGINT) AS DECIMAL(18,0))"
    val yc = "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(18,0))"
    val m = Tables.lineitem(s, d).groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        sum(expr(xc)).as("sx"), sum(expr(yc)).as("sy"),
        sum(expr(s"$xc * $yc")).as("sxy"),
        sum(expr(s"$xc * $xc")).as("sxx"),
        sum(expr(s"$yc * $yc")).as("syy"))
    m.select(col("flag"), col("n").cast("long").as("n"),
      expr("""(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        | / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"""
        .stripMargin).as("corr_qty_price"),
      expr("""sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        | / (CAST(n AS DOUBLE) * (n - 1))) / 100""".stripMargin).as("stddev_qty"),
      expr("""(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        | / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""
        .stripMargin).as("regr_slope"),
      expr("""(CAST(sy AS DOUBLE) - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        | / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        | * CAST(sx AS DOUBLE)) / n / 100""".stripMargin).as("regr_intercept"))
      .orderBy("flag")
  }

  // --------------------------------------------------------------- q37
  /** OHLC resampling — the time-series downsampling operator behind
    * every metrics/market-data rollup: per (hour, event_type) bar with
    * open/high/low/close/volume. Open and close are ARG-min/max by time,
    * not plain min/max, and `ts` alone can tie — so the ordering key is
    * the exact packed integer `micros·10¹⁸ + event_id` (total, unique;
    * DECIMAL(38,0) here — 34 digits, no precision loss — HUGEINT in the
    * oracle; same values, same order). A zero-padded STRING key was
    * rejected by plan audit: string aggregation buffers aren't
    * hash-agg-mutable, so Spark planned a SortAggregate — a per-
    * partition sort of every event; the fixed-width decimal keeps
    * min_by/max_by inside a true HashAggregate. One shuffle on
    * (bucket, type) with map-side partials, O(1) state per bar — the
    * plan a 100 TB rollup needs (the window-row_number formulation
    * would sort every event too). */
  val q37 = Q("q37_ohlc_resample",
    """SELECT date_trunc('hour', ts) AS bucket_h, event_type,
      |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT)
      |                 * 1000000000000000000 + event_id) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT)
      |                 * 1000000000000000000 + event_id) AS close,
      |  CAST(count(*) AS BIGINT) AS volume
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val key = EventStreams.packedTsKey(ev)
    ev
      .groupBy(date_trunc("hour", EventStreams.eventTs(ev)).as("bucket_h"),
        col("event_type"))
      .agg(min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).cast("long").as("volume"))
      .orderBy("bucket_h", "event_type")
  }

  // --------------------------------------------------------------- q38
  /** Rolling 7-day distinct actives + event volume per day — the DAU/WAU
    * retention metric. COUNT(DISTINCT) OVER a RANGE frame is unsupported
    * (Spark) and, where supported, re-scans the frame per row; the
    * scale-safe formulation inverts it: dedupe to (user, day) once, then
    * each (user, day) CONTRIBUTES to the ≤7 target days it can affect
    * (a bounded map-side explode — ×7, not ×frame-rows), and a plain
    * per-day distinct agg finishes the job. Two keyed shuffles total,
    * both map-side combined; no window state, no per-day rescan of a
    * 100 TB event table. The day timeline is generated from the data's
    * own bounds (q31's gap-fill convention) so empty days surface as
    * explicit zeros. */
  val q38 = Q("q38_rolling_distinct",
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS d, user_id FROM events),
      |bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM ev),
      |days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
      |    AS day FROM bounds),
      |ud AS (SELECT DISTINCT user_id, d FROM ev),
      |dc AS (SELECT d, count(*) AS c FROM ev GROUP BY d),
      |au AS (
      |  SELECT dy.day, count(DISTINCT u.user_id) AS active_users_7d
      |  FROM days dy JOIN ud u ON u.d BETWEEN dy.day - 6 AND dy.day
      |  GROUP BY dy.day),
      |e7 AS (
      |  SELECT dy.day, sum(dc.c) AS events_7d
      |  FROM days dy JOIN dc ON dc.d BETWEEN dy.day - 6 AND dy.day
      |  GROUP BY dy.day)
      |SELECT d2.day,
      |  CAST(coalesce(au.active_users_7d, 0) AS BIGINT) AS active_users_7d,
      |  CAST(coalesce(e7.events_7d, 0) AS BIGINT) AS events_7d
      |FROM days d2
      |LEFT JOIN au ON au.day = d2.day
      |LEFT JOIN e7 ON e7.day = d2.day
      |ORDER BY d2.day""".stripMargin) { (s, d) =>
    val ev0 = Tables.events(s, d)
    val ev = ev0
      .select(to_date(EventStreams.eventTs(ev0)).as("d"), col("user_id"))
    val bounds = ev.agg(min("d").as("lo"), max("d").as("hi"))
    val days = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val target = explode(sequence(col("d"), date_add(col("d"), 6))).as("day")
    val au = ev.distinct()
      .select(col("user_id"), target)
      .join(days, "day") // clips contributions past the data's horizon
      .groupBy("day").agg(countDistinct("user_id").as("active_users_7d"))
    val e7 = ev.groupBy("d").agg(count(lit(1)).as("c"))
      .select(col("c"), target)
      .join(days, "day")
      .groupBy("day").agg(sum("c").as("events_7d"))
    days.join(au, Seq("day"), "left").join(e7, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("active_users_7d"), lit(0L)).cast("long")
          .as("active_users_7d"),
        coalesce(col("events_7d"), lit(0L)).cast("long").as("events_7d"))
      .orderBy("day")
  }

  // --------------------------------------------------------------- q39
  /** Z-order (Morton curve) locality bucketing — the DATA-LAYOUT
    * operator: a table written in z order of two filter keys gives every
    * file a tight min/max envelope in BOTH dimensions, so parquet
    * zone-map skipping prunes on either predicate (the OPTIMIZE ZORDER
    * pattern; single-key sorting gives this for one dimension only). The
    * curve math is pure integer arithmetic: each key is affinely mapped
    * onto the 16-bit grid from the data's own bounds (exact integer
    * div), the two coordinates bit-interleave into a 32-bit z value (32
    * codegen'd shift/mask terms, one fixed expression), and the query
    * aggregates the curve into 256 buckets (top 8 z bits = the file
    * boundaries a clustered write would draw), reporting each bucket's
    * envelope. `SketchSpec` pins the locality law the layout exists for:
    * every bucket envelope is a tile, ≤ 1/8th of the full span per
    * dimension — the naive row-order layout has full-span envelopes and
    * skips nothing. At 100 TB the same z column drives the write:
    * `repartitionByRange(z).sortWithinPartitions(z)` — one range
    * exchange + local sorts, no global sort. */
  val q39 = Q("q39_zorder_layout", {
    val terms = (0 until 16).map(i =>
      s"(((nx >> $i) & 1) << ${2 * i}) + (((ny >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT min(l_partkey) AS pklo, max(l_partkey) AS pkhi,
       |         min(l_suppkey) AS sklo, max(l_suppkey) AS skhi
       |  FROM lineitem),
       |n AS (
       |  SELECT l_partkey AS pk, l_suppkey AS sk,
       |    (l_partkey - pklo) * 65536 // (pkhi - pklo + 1) AS nx,
       |    (l_suppkey - sklo) * 65536 // (skhi - sklo + 1) AS ny
       |  FROM lineitem CROSS JOIN b),
       |z AS (SELECT pk, sk, $terms AS z FROM n)
       |SELECT z >> 24 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  min(pk) AS pk_lo, max(pk) AS pk_hi,
       |  min(sk) AS sk_lo, max(sk) AS sk_hi
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val b = li.agg(min("pk").as("pklo"), max("pk").as("pkhi"),
      min("sk").as("sklo"), max("sk").as("skhi"))
    val terms = (0 until 16).map(i =>
      s"shiftleft(shiftright(nx, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright(ny, $i) & 1, ${2 * i + 1})")
      .mkString(" + ")
    li.crossJoin(broadcast(b))
      .select(col("pk"), col("sk"),
        expr("(pk - pklo) * 65536 DIV (pkhi - pklo + 1)").as("nx"),
        expr("(sk - sklo) * 65536 DIV (skhi - sklo + 1)").as("ny"))
      .select(col("pk"), col("sk"), expr(terms).as("z"))
      .groupBy(expr("z DIV 16777216").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        min("pk").as("pk_lo"), max("pk").as("pk_hi"),
        min("sk").as("sk_lo"), max("sk").as("sk_hi"))
      .orderBy("bucket")
  }

  // --------------------------------------------------------------- q40
  /** Robust anomaly gate (median / MAD) — the data-quality pass a
    * training pipeline runs over every numeric column before ingestion:
    * mean/stddev outlier rules are themselves corrupted by the outliers
    * they hunt, so the robust form flags `|x − median| > 3 · 1.4826 ·
    * MAD` (1.4826·MAD estimates σ under normality; the threshold is the
    * robust 3σ). Exact percentiles make it cross-engine checkable
    * (q19's proven `percentile` ↔ `quantile_cont` parity); the one-pass
    * 100 TB variant swaps in the mergeable `approx_percentile` sketch
    * exactly as q19b does for q19. Determinism: the threshold compares
    * doubles built by ONE shared expression shape (`3 * 1.4826 * mad`,
    * constant-folded identically in both engines), so no boundary value
    * can flip. Plan: three pruned columnar scans of (type, value) — the
    * med pass, the deviation/MAD pass, the flag count — each a keyed
    * hash agg; the per-type stat tables broadcast. */
  val q40 = Q("q40_anomaly_mad",
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n, max(med) AS med,
      |    quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1),
      |outs AS (
      |  SELECT d.event_type, count(*) AS n_out
      |  FROM dev d JOIN stats st USING (event_type)
      |  WHERE d.adev > 3 * 1.4826 * st.mad
      |  GROUP BY 1)
      |SELECT s.event_type, s.n, s.med, s.mad,
      |  CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_outliers
      |FROM stats s LEFT JOIN outs o USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val stats = dev.groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"), max("med").as("med"),
        expr("percentile(adev, 0.5)").as("mad"))
    val outs = dev
      .join(broadcast(stats.select("event_type", "mad")), "event_type")
      .filter(col("adev") > expr("3 * 1.4826 * mad"))
      .groupBy("event_type").agg(count(lit(1)).as("n_out"))
    stats.join(outs, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        coalesce(col("n_out"), lit(0L)).cast("long").as("n_outliers"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q41
  /** Incremental aggregate maintenance — the nightly-pipeline pattern
    * that makes 100 TB aggregation sustainable: yesterday's aggregate
    * STATE (group-sized, not corpus-sized) merges with a re-aggregation
    * of only the DELTA, and the merge must equal a full recompute. The
    * snapshot CTE here stands for the stored state table; at scale only
    * the delta's parquet is scanned (the cutoff predicate pushes down)
    * and history is never re-read. The demo keeps only MERGEABLE
    * partials (sum/count/min/max — DECIMAL sums per the money
    * discipline); avg is derived AFTER the merge from sum/count, the
    * "store sums, not averages" rule that makes state composable.
    * `DeterminismSpec` pins merge == full recompute (associativity), the
    * property the pattern rests on. */
  val q41 = Q("q41_incremental_agg",
    """WITH partials AS (
      |  SELECT l_returnflag,
      |    CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 'snap'
      |         ELSE 'delta' END AS src,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
      |    CAST(count(*) AS BIGINT) AS n,
      |    min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  CAST(sum(sum_qty) AS DOUBLE) AS sum_qty,
      |  CAST(sum(n) AS BIGINT) AS n,
      |  CAST(sum(sum_qty) AS DOUBLE) / sum(n) AS avg_qty,
      |  min(min_ship) AS min_ship, max(max_ship) AS max_ship
      |FROM partials GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val cutoff = tsNtz("1997-01-01")
    def partial(df: DataFrame): DataFrame = df.groupBy("l_returnflag")
      .agg(sum(dec2(col("l_quantity"))).as("sum_qty"),
        count(lit(1)).cast("long").as("n"),
        min("l_shipdate").as("min_ship"), max("l_shipdate").as("max_ship"))
    // snapshot state (stored in a real deployment) + delta-only rescan
    val snap = partial(li.filter(col("l_shipdate") < cutoff))
    val delta = partial(li.filter(col("l_shipdate") >= cutoff))
    snap.union(delta).groupBy("l_returnflag")
      .agg(sum("sum_qty").as("sum_qty_d"), sum("n").cast("long").as("n"),
        min("min_ship").as("min_ship"), max("max_ship").as("max_ship"))
      .select(col("l_returnflag"),
        col("sum_qty_d").cast("double").as("sum_qty"), col("n"),
        (col("sum_qty_d").cast("double") / col("n")).as("avg_qty"),
        col("min_ship"), col("max_ship"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q42
  /** Large × large interval-OVERLAP join, bucketed — the range-join case
    * q12's broadcast cannot cover: when BOTH interval sets are fact-
    * scale, a pure range predicate plans as a nested loop (O(|A|·|B|)
    * compares, the one join shape that cannot survive 100 TB). The
    * scale-right composition turns it into an EQUI join: each interval
    * explodes into the hour buckets it covers (bounded ×3 / ×2 here —
    * interval length over bucket width, a design constant), the join
    * keys on bucket, and the exact overlap predicate filters residually.
    * A pair overlapping several shared buckets would duplicate, so the
    * pair is emitted ONLY in its first shared bucket — `bucket ==
    * greatest(b0(a_start), b0(b_start))`, which overlap guarantees both
    * sides cover — deduplication by arithmetic, not by a distinct
    * shuffle. The DuckDB oracle states the SAME join as the naive range
    * predicate (its native IEJoin handles it at oracle scale), so the
    * bucketed rewrite is hash-checked against the textbook definition.
    * `PlanAuditSpec` pins the no-nested-loop claim. Intervals derive
    * deterministically from events (every ~97th event opens a 2 h
    * activity span; every ~101st a ±30 min incident window). */
  val q42 = Q("q42_interval_overlap_join",
    """WITH ev AS (
      |  SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS tsu FROM events),
      |a AS (
      |  SELECT event_id AS a_id, tsu AS a_start, tsu + 7200000000 AS a_end
      |  FROM ev WHERE event_id % 97 = 0),
      |b AS (
      |  SELECT event_id AS b_id, tsu - 1800000000 AS b_start,
      |         tsu + 1800000000 AS b_end
      |  FROM ev WHERE event_id % 101 = 0)
      |SELECT a_id, b_id,
      |  least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us
      |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val H = 3600000000L // 1 h bucket, in micros
    val ev0 = Tables.events(s, d)
    val ev = ev0
      .select(col("event_id"), EventStreams.eventMicros(ev0).as("tsu"))
    val a = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_id").as("a_id"), col("tsu").as("a_start"),
        (col("tsu") + 7200000000L).as("a_end"))
    val b = ev.filter(col("event_id") % 101 === 0)
      .select(col("event_id").as("b_id"), (col("tsu") - 1800000000L).as("b_start"),
        (col("tsu") + 1800000000L).as("b_end"))
    // exact integer floor division (r06 ADVICE): subtract the
    // non-negative pmod remainder, then integral-divide the now-exactly-
    // divisible value — floor by construction for any sign/magnitude,
    // no double rounding in the path (c.divide(H) goes through DOUBLE
    // and silently depends on a < 2^53 magnitude analysis)
    def b0(c: Column): Column =
      call_function("div", c - pmod(c, lit(H)), lit(H))
    val aExp = a.withColumn("bucket",
      explode(sequence(b0(col("a_start")), b0(col("a_end")))))
    val bExp = b.withColumn("bucket",
      explode(sequence(b0(col("b_start")), b0(col("b_end")))))
    aExp.join(bExp, Seq("bucket"))
      .filter(col("a_start") <= col("b_end") && col("b_start") <= col("a_end"))
      .filter(col("bucket") === greatest(b0(col("a_start")), b0(col("b_start"))))
      .select(col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_us"))
      .orderBy("a_id", "b_id")
  }

  // ---------------------------------------------------------------- q43
  /** The skew-mitigation utilities on REAL tables, fully oracled: per-
    * nation revenue via [[Skew.saltedJoin]] (lineitem probe spread over
    * 8 salt buckets, supplier dim exploded to match) finished by the
    * [[Skew.twoPhaseSum]] pattern, inlined so revenue AND row count ride
    * ONE partial pass per (nation, salt) before the final combine — no
    * reducer ever owns a whole hot key, and the salted-join subtree is
    * scanned exactly once. The oracle
    * states the PLAIN join + group: salting must be semantics-invisible,
    * and the hash compare proves it on real data, not just the synthetic
    * spec frames. DECIMAL sums keep the two-phase merge exact (q41's
    * mergeability rule — sums compose, so phase count cannot change the
    * answer). At 100 TB this is the manual tool for the hot keys AQE's
    * runtime splitting can't fix (aggregation skew, build-side hot
    * keys); `SkewSpec` pins AQE's own path separately. */
  val q43 = Q("q43_salted_join",
    s"""SELECT s_nationkey, CAST(sum($DISC_PRICE_SQL) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).select(
      col("l_suppkey").as("suppkey"), col("l_orderkey"),
      discPriceOf(col("l_extendedprice"), col("l_discount")).as("rev"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    val joined = Skew.saltedJoin(li, sup, "suppkey", 8, col("l_orderkey"))
    // the twoPhaseSum pattern inlined so BOTH mergeable aggregates ride
    // ONE partial pass — a separate count over a second copy of the
    // salted-join subtree would scan and join lineitem twice per rep
    // (Catalyst does not collapse the two differently-grouped copies)
    val partial = joined
      .groupBy(col("s_nationkey"),
        pmod(hash(col("l_orderkey")), lit(16)).as("__salt"))
      .agg(sum("rev").as("pr"), count(lit(1)).as("pc"))
    partial.groupBy("s_nationkey")
      .agg(sum("pr").cast("double").as("revenue"),
        sum("pc").cast("long").as("n_items"))
      .orderBy("s_nationkey")
  }

  // ---------------------------------------------------------------- q44
  /** The bucketed co-located join as a CATALOG query, fully oracled:
    * orders and lineitem are written bucketed+sorted by orderkey (once
    * per corpus dir per JVM — the memoised write below is the "one-time
    * bucketed write" the technique amortises; bench reps 2-3 measure
    * what a deployment pays, the exchange-free join), then joined and
    * aggregated. The oracle states the plain join — bucketing must be
    * semantics-invisible; `PlanAuditSpec` pins the property that makes
    * it worth paying for: NO shuffle exchange under the join, on either
    * side. DECIMAL revenue at write time keeps the sums exact through
    * the parquet round-trip. */
  private val bucketedLock = new Object

  private[graft] def ensureBucketed(s: SparkSession, d: String): String = {
    val p = "graft_bk_" + graft.GraftSession.corpusKey(d)
    // the readiness check is the SESSION catalog, not a JVM-level memo
    // (r06 ADVICE): tables live in a specific SparkSession's in-memory
    // catalog, so a stop()+rebuild in the same JVM must re-write — a
    // per-JVM memo would report ready and fail with table-not-found
    def ready = s.catalog.tableExists(s"${p}_orders") &&
      s.catalog.tableExists(s"${p}_lineitem")
    if (!ready) bucketedLock.synchronized {
      if (!ready) {
        Bucketing.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey").as("orderkey"),
            col("o_orderpriority")),
          s"${p}_orders", "orderkey", 8)
        Bucketing.writeBucketed(
          Tables.lineitem(s, d).select(col("l_orderkey").as("orderkey"),
            discPriceOf(col("l_extendedprice"), col("l_discount")).as("rev")),
          s"${p}_lineitem", "orderkey", 8)
      }
    }
    p
  }

  val q44 = Q("q44_bucketed_join",
    s"""SELECT o_orderpriority, CAST(sum($DISC_PRICE_SQL) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val p = ensureBucketed(s, d)
    Bucketing.bucketedJoin(s, s"${p}_orders", s"${p}_lineitem", "orderkey")
      .groupBy("o_orderpriority")
      .agg(sum("rev").cast("double").as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- q45
  /** Runtime bloom-filter join pruning — the ROW-level sibling of in08's
    * partition-level DPP, and the second of Spark's two runtime-filter
    * tiers: when a fact joins a dim that is too big to broadcast but
    * carries a selective filter, Catalyst's `InjectRuntimeFilter` plants
    * a `BloomFilterAggregate` scalar subquery over the filtered dim keys
    * and a `might_contain(bloom, xxhash64(l_partkey))` predicate on the
    * fact side — so most non-matching fact rows die AT THE SCAN, before
    * they are shuffled for the join. At 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~selective
    * fraction that can actually match: DPP skips partitions the
    * predicate's partition-key form can prune; the bloom filter prunes
    * ROWS when the join key is not the partition key (here `l_partkey`,
    * while the production fact partitions on date). Bloom false
    * positives only cost wasted shuffle rows — the join itself removes
    * them — so the rewrite is semantics-invisible, which is exactly what
    * the plain-join DuckDB oracle checks. Conf scoping: the knobs live
    * on an isolated `newSession()` (same SparkContext, own SQLConf), so
    * nothing leaks into the shared session's other 150+ queries —
    * `applicationSideScanSizeThreshold=0` because the audit corpus is
    * MBs, not the production 10 GB default, and
    * `autoBroadcastJoinThreshold=-1` models the dim-too-big-to-broadcast
    * regime, the only one where the bloom path engages (under a
    * broadcast join the probe side never shuffles, so there is nothing
    * for the filter to save). `PlanAuditSpec` pins `might_contain` on
    * the fact side plus an anti-vacuity twin: same query, bloom filter
    * disabled, same result, no `might_contain`. */
  val q45 = Q("q45_bloom_filter_join",
    s"""SELECT p_brand, CAST(sum($DISC_PRICE_SQL) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand IN ('Brand#7', 'Brand#21')
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    bloomJoin(s, d, bloomEnabled = true)
  }

  /** q45's query body on an isolated conf-scoped session; `bloomEnabled`
    * toggles only the runtime-filter rule so the audit can prove the
    * result is invariant to it (the anti-vacuity twin). */
  private[graft] def bloomJoin(
      s: SparkSession, d: String, bloomEnabled: Boolean): DataFrame = {
    val s2 = s.newSession()
    // newSession inherits builder-time confs (GraftSession.configure) but
    // not dynamic ones the driver may have set on `s` — carry the two
    // that change semantics/parallelism here
    s2.conf.set("spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone"))
    s2.conf.set("spark.sql.shuffle.partitions",
      s.conf.get("spark.sql.shuffle.partitions"))
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.enabled", bloomEnabled.toString)
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = Tables.lineitem(s2, d).select(col("l_partkey"),
      discPriceOf(col("l_extendedprice"), col("l_discount")).as("rev"))
    val pt = Tables.part(s2, d)
      .select(col("p_partkey"), col("p_brand"))
      .filter(col("p_brand").isin("Brand#7", "Brand#21"))
    li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum("rev").cast("double").as("revenue"),
        count(lit(1)).cast("long").as("n_items"))
      .orderBy("p_brand")
  }

  // ---------------------------------------------------------------- q46
  /** Native top-k-per-key ([[graft.plans.TopKPerKey]]) — the
    * whole-operator extension tier: custom logical node, rewrite rule,
    * planner strategy, and a two-phase bounded-heap physical operator.
    * The query body is the PORTABLE idiom — `row_number()` over
    * (partition by custkey, order by totalprice desc, orderkey) filtered
    * to ≤ 3 and dropped — and [[graft.plans.GraftExtensions]], installed
    * by [[graft.GraftSession.configure]], swaps Spark's
    * shuffle→sort→Window→filter plan for heap-partial → exchange →
    * heap-final: no sort buffer, no rank projection, and the shuffle
    * carries at most 3·keys rows per map partition (the map-side-combine
    * contract, which is what holds at 100 TB). Ordering is total
    * (orderkey tiebreak) so the answer is deterministic and the oracle
    * is the plain window SQL; `TopKSpec` pins plan shape (2 heap nodes,
    * zero Window/Sort below the final orderBy) and value parity against
    * the same body with the rewrite excluded. */
  val q46 = Q("q46_native_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- q47
  /** KMV distinct sketch ([[graft.functions.KmvSketchAgg]]) — the
    * imperative-aggregate extension tier: a native
    * `TypedImperativeAggregate` whose state is the k smallest distinct
    * 60-bit hashes per group. Unlike `approx_count_distinct` (q10b,
    * rows-only: Spark's HLL++ state is not SQL-replayable), the KMV
    * state is EXACTLY recomputable by any SQL engine — the oracle
    * derives the identical k-min set with `row_number() <= k` over
    * distinct hashes and checks every retained value (the `state`
    * column), the kth order statistic, and the integer-floor estimate.
    * No DISTINCT shuffle anywhere: dedup happens inside the bounded
    * TreeSet, partial states (≤ k longs) combine map-side, and the
    * exchange carries sketches, not rows — the 100 TB contract. The
    * `event_type` sketch exercises the n < k branch where KMV is EXACT
    * by construction; `KmvSpec` pins the merge law, serialization
    * round-trip, ObjectHashAggregate planning, and the estimate's
    * measured error vs exact distinct counts. */
  private[graft] val KmvK = 64
  private[graft] def kmvHashSpark(c: String): String =
    s"CAST(conv(substr(md5(concat('$c:', CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h"
  private[graft] def kmvHashDuck(c: String): String =
    s"CAST(concat('0x', substr(md5('$c:' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"

  val q47 = Q("q47_kmv_sketch",
    s"""WITH src AS (
      |  SELECT 'user_id' AS colname, ${kmvHashDuck("user_id")} AS h FROM events
      |  UNION ALL
      |  SELECT 'event_type', ${kmvHashDuck("event_type")} FROM events
      |  UNION ALL
      |  SELECT 'props', ${kmvHashDuck("props")} FROM events),
      |d AS (SELECT DISTINCT colname, h FROM src WHERE h IS NOT NULL),
      |r AS (SELECT colname, h,
      |        row_number() OVER (PARTITION BY colname ORDER BY h) AS rn
      |      FROM d),
      |kmin AS (SELECT colname, h FROM r WHERE rn <= $KmvK),
      |summ AS (
      |  SELECT colname, count(*) AS n_retained,
      |    coalesce(max(h), -1) AS kth_hash,
      |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS state
      |  FROM kmin GROUP BY colname)
      |SELECT colname, n_retained, kth_hash,
      |  CASE WHEN n_retained < $KmvK THEN n_retained
      |       ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * 1152921504606846976)
      |                 // kth_hash AS BIGINT) END AS est_distinct,
      |  state
      |FROM summ ORDER BY colname""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val src = ev.selectExpr("'user_id' AS colname", kmvHashSpark("user_id"))
      .unionAll(ev.selectExpr("'event_type' AS colname", kmvHashSpark("event_type")))
      .unionAll(ev.selectExpr("'props' AS colname", kmvHashSpark("props")))
    src.filter(col("h").isNotNull)
      .groupBy("colname")
      .agg(expr(s"kmv_sketch(h, $KmvK)").as("sk"))
      .select(col("colname"),
        col("sk.n_retained").as("n_retained"),
        col("sk.kth_hash").as("kth_hash"),
        col("sk.est_distinct").as("est_distinct"),
        col("sk.state").as("state"))
      .orderBy("colname")
  }

  // ---------------------------------------------------------------- q48
  /** Cohort retention triangle — the companion analytics op to q30's
    * funnel and q38's rolling actives: users cohort by their FIRST
    * active day, and each (cohort, day-offset) cell counts how many of
    * them returned exactly `offset` days later, with retention as an
    * exact parts-per-million integer (integer division — doubles never
    * compare cross-engine; the q19c/t13 quantisation discipline).
    *
    * Scale shape: one shuffle on user_id derives first-seen days (the
    * map-side-combined min), the events⋈first join is equi-keyed on the
    * SAME user_id — AQE reuses the exchange — and the ≤15-offset filter
    * bounds the distinct set to 15 rows per user before the cell
    * aggregation. Cohort sizes are |days|-sized and broadcast back.
    * Nothing windows, nothing funnels through one task. */
  val q48 = Q("q48_cohort_retention",
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |firstd AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id),
      |ua AS (
      |  SELECT DISTINCT e.user_id, f.cohort_day,
      |    date_diff('day', f.cohort_day, e.d) AS day_offset
      |  FROM ev e JOIN firstd f ON e.user_id = f.user_id
      |  WHERE date_diff('day', f.cohort_day, e.d) <= 14),
      |sizes AS (
      |  SELECT cohort_day, count(*) AS cohort_users FROM firstd GROUP BY cohort_day)
      |SELECT u.cohort_day, u.day_offset,
      |  CAST(count(*) AS BIGINT) AS n_active,
      |  CAST(s.cohort_users AS BIGINT) AS cohort_users,
      |  (CAST(count(*) AS BIGINT) * 1000000) // CAST(s.cohort_users AS BIGINT)
      |    AS retention_ppm
      |FROM ua u JOIN sizes s ON u.cohort_day = s.cohort_day
      |GROUP BY u.cohort_day, u.day_offset, s.cohort_users
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ev0 = Tables.events(s, d)
    val ev = ev0.select(col("user_id"),
      to_date(EventStreams.eventTs(ev0)).as("d"))
    val firstd = ev.groupBy("user_id").agg(min("d").as("cohort_day"))
    val ua = ev.join(firstd, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .where(col("day_offset") <= 14)
      .distinct()
    val sizes = firstd.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_users"))
    ua.groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).cast("long").as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_users").cast("long").as("cohort_users"),
        expr("(n_active * 1000000L) DIV cohort_users").as("retention_ppm"))
      .orderBy("cohort_day", "day_offset")
  }

  // ---------------------------------------------------------------- q49
  /** The attribution lookback window: touches within 24 h before the
    * purchase participate in its credit split. */
  val AttribWindowMicros: Long = 86400L * 1000000L

  /** Multi-touch attribution — the marketing-analytics closer after
    * q30's funnel and q48's retention: every purchase's value splits
    * LINEARLY across the click/view touches by the same user inside the
    * [[AttribWindowMicros]] lookback, and purchases with no touch
    * credit the `direct` channel in full. Exact-conservation integer
    * arithmetic: the purchase value quantises to micros ONCE, each of
    * the n touches takes `value ÷ n`, and the remainder `value mod n`
    * goes to the LAST touch (closest to conversion — the last-touch
    * nod), so per-purchase credits sum to the purchase value EXACTLY
    * (the spec's conservation law: Σ channels + direct = Σ purchases,
    * to the micro) — no float split ever drifts a ledger.
    *
    * Scale shape: the touch↔purchase pairing is an equi join on
    * user_id + a residual time predicate — candidate cost
    * Σ_u touches_u · purchases_u, bounded by per-user activity (the
    * natural key; a hyperactive-user skew would take q42's bucketed
    * interval form or q43's salting, unchanged semantics). Both windows
    * are purchase-keyed (rank + count over the ≤ per-user-window touch
    * set, never corpus-global); the channel rollup is a 3-group agg.
    * Event time goes through the dtype-adaptive accessor
    * ([[EventStreams.eventMicros]]). */
  val q49 = Q("q49_attribution",
    """WITH p AS (
      |  SELECT event_id AS pid, user_id, epoch_us(ts) AS pts,
      |    CAST(round(value * 1000000.0) AS BIGINT) AS value_micros
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT event_id AS tid, user_id, epoch_us(ts) AS tts,
      |    event_type AS channel
      |  FROM events WHERE event_type IN ('click', 'view')),
      |cand AS (
      |  SELECT p.pid, p.value_micros, t.tid, t.channel, t.tts
      |  FROM p JOIN t ON t.user_id = p.user_id
      |  WHERE t.tts <= p.pts AND t.tts > p.pts - 86400000000),
      |ranked AS (
      |  SELECT pid, value_micros, tid, channel,
      |    row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rk,
      |    count(*) OVER (PARTITION BY pid) AS n
      |  FROM cand),
      |credits AS (
      |  SELECT channel, pid,
      |    value_micros // n +
      |      CASE WHEN rk = n THEN value_micros % n ELSE 0 END AS credit
      |  FROM ranked),
      |touched AS (
      |  SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |    CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
      |    CAST(sum(credit) AS BIGINT) AS credited_micros
      |  FROM credits GROUP BY channel),
      |direct AS (
      |  SELECT 'direct' AS channel, CAST(0 AS BIGINT) AS n_touches,
      |    CAST(count(*) AS BIGINT) AS n_purchases,
      |    CAST(sum(value_micros) AS BIGINT) AS credited_micros
      |  FROM p WHERE pid NOT IN (SELECT pid FROM cand))
      |SELECT * FROM touched UNION ALL SELECT * FROM direct
      |ORDER BY channel""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val micros = EventStreams.eventMicros(ev)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        micros.as("pts"),
        expr("CAST(round(value * 1000000.0) AS BIGINT)").as("value_micros"))
    val t = ev.filter(col("event_type").isin("click", "view"))
      .select(col("event_id").as("tid"), col("user_id"),
        micros.as("tts"), col("event_type").as("channel"))
    val cand = p.join(t, "user_id")
      .where(col("tts") <= col("pts") &&
        col("tts") > col("pts") - AttribWindowMicros)
      .select("pid", "value_micros", "tid", "channel", "tts")
      .localCheckpoint() // feeds the credit split AND the direct anti join
    val wRank = Window.partitionBy("pid").orderBy("tts", "tid")
    val wN = Window.partitionBy("pid")
    val credits = cand
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wN))
      .select(col("channel"), col("pid"),
        (expr("value_micros DIV n") +
          when(col("rk") === col("n"), expr("value_micros % n"))
            .otherwise(0L)).as("credit"))
    val touched = credits.groupBy("channel")
      .agg(count(lit(1)).cast("long").as("n_touches"),
        countDistinct("pid").cast("long").as("n_purchases"),
        sum("credit").cast("long").as("credited_micros"))
    val direct = p.join(cand.select("pid"), Seq("pid"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_purchases"),
        sum("value_micros").cast("long").as("credited_micros"))
      .select(lit("direct").as("channel"), lit(0L).as("n_touches"),
        col("n_purchases"), col("credited_micros"))
    touched.union(direct).orderBy("channel")
  }

  // ---------------------------------------------------------------- q50
  /** Behavioral path mining — t26's collocation idea applied to event
    * STREAMS (and the sequence-mining pass behind funnel discovery,
    * anomaly signatures, and behavioral-cloning data prep): the most
    * common 3-step event-type paths, counted WITHIN st03's 30-minute
    * sessions so cross-session coincidences never count as paths.
    * Sessionisation is the gaps-and-islands cascade (lag → change flag
    * → running island id), paths come from two `lead`s over the
    * (user, session) key — every window user- or session-keyed, never
    * corpus-global — and the rollup is a (e1,e2,e3) hash agg with
    * map-side combine (≤ |event types|³ groups). Path share is an
    * exact ppm integer; top-20 under a total order plans
    * TakeOrderedAndProject. Event time goes through the dtype-adaptive
    * micros accessor; ties inside a session break on event_id (total,
    * replayable order). */
  val q50 = Q("q50_path_mining",
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS m
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, m,
      |    CASE WHEN m - lag(m) OVER (PARTITION BY user_id ORDER BY m, event_id)
      |              > 1800000000 OR
      |         lag(m) OVER (PARTITION BY user_id ORDER BY m, event_id) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev),
      |islands AS (
      |  SELECT user_id, event_id, event_type, m,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY m, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |paths AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM islands
      |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY m, event_id)),
      |pc AS (
      |  SELECT e1, e2, e3, count(*) AS n FROM paths
      |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |tot AS (SELECT sum(n) AS t FROM pc)
      |SELECT e1, e2, e3, CAST(n AS BIGINT) AS n,
      |  CAST(n * 1000000 // t AS BIGINT) AS share_ppm
      |FROM pc CROSS JOIN tot
      |ORDER BY n DESC, e1, e2, e3
      |LIMIT 20""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev0 = Tables.events(s, d)
    val ev = ev0.select(col("user_id"), col("event_id"), col("event_type"),
      EventStreams.eventMicros(ev0).as("m"))
    val wu = Window.partitionBy("user_id").orderBy("m", "event_id")
    val flagged = ev.withColumn("new_session",
      when(col("m") - lag(col("m"), 1).over(wu) > 1800000000L ||
        lag(col("m"), 1).over(wu).isNull, 1L).otherwise(0L))
    val islands = flagged.withColumn("sid",
      sum("new_session").over(wu.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy("user_id", "sid").orderBy("m", "event_id")
    val pc = islands
      .select(col("event_type").as("e1"),
        lead(col("event_type"), 1).over(ws).as("e2"),
        lead(col("event_type"), 2).over(ws).as("e3"))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the total AND the ranked output
    val tot = pc.agg(sum("n").as("t"))
    pc.crossJoin(broadcast(tot))
      .select(col("e1"), col("e2"), col("e3"), col("n").cast("long").as("n"),
        expr("(n * 1000000) DIV t").as("share_ppm"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q51
  /** Time-weighted average value (TWAP) per (event_type, hour) — the
    * interval-weighted aggregation class none of q01–q50 exercises: each
    * observation is weighted by HOW LONG it held (until the next
    * observation of the same series, the last one to the bucket edge),
    * not counted once. The financial/telemetry standard for irregular
    * sampling — a plain mean over-weights bursts (ref: absent; north-star
    * §2.5 extension).
    *
    * Exactness: value quantised once to integer cents (DECIMAL(18,2)
    * ×100, the q19c discipline), durations are BIGINT micros from the
    * dtype-adaptive accessor, and the TWAP is the floor of an exact
    * integer ratio — `Σ(cents·dur) DIV Σdur` with both operands positive,
    * so Spark's truncating DIV and DuckDB's `//` (HUGEINT, floor) agree
    * bit-for-bit. Ties on the instant break by event_id (dur 0 for the
    * earlier event — it held for no time, weight 0 in both engines).
    *
    * Scale: one (event_type, bucket)-keyed window (lead only — no
    * unbounded frames), then a hash agg with map-side combine; the
    * weighted sum stays in BIGINT here (≤5·10¹⁵ at sf0.1); at 100 TB the
    * per-key sum promotes to DECIMAL(38,0) the way q01's money sums do —
    * nothing else changes. */
  val q51 = Q("q51_twap",
    """WITH ev AS (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket_h,
      |         epoch_us(ts) AS m, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |d AS (
      |  SELECT event_type, bucket_h, cents,
      |    coalesce(lead(m) OVER (PARTITION BY event_type, bucket_h
      |                           ORDER BY m, event_id),
      |             epoch_us(bucket_h) + 3600000000) - m AS dur
      |  FROM ev)
      |SELECT event_type, bucket_h, count(*) AS n,
      |  CAST(sum(dur) AS BIGINT) AS dur_us,
      |  CAST(sum(cents * dur) // sum(dur) AS BIGINT) AS twap_cents
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev0 = Tables.events(s, d)
    val ev = ev0.select(col("event_type"),
      date_trunc("hour", EventStreams.eventTs(ev0)).as("bucket_h"),
      EventStreams.eventMicros(ev0).as("m"), col("event_id"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val w = Window.partitionBy("event_type", "bucket_h")
      .orderBy("m", "event_id")
    ev.withColumn("dur",
        coalesce(lead(col("m"), 1).over(w),
          expr("unix_micros(CAST(bucket_h AS TIMESTAMP)) + 3600000000")) -
          col("m"))
      .groupBy("event_type", "bucket_h")
      .agg(count(lit(1)).as("n"), sum("dur").as("dur_us"),
        sum(col("cents") * col("dur")).as("wsum"))
      .select(col("event_type"), col("bucket_h"), col("n"), col("dur_us"),
        expr("wsum DIV dur_us").as("twap_cents"))
      .orderBy("event_type", "bucket_h")
  }

  // ---------------------------------------------------------------- q52
  /** UNPIVOT — the inverse reshaping of q17's PIVOT and the other half
    * of the wide↔long contract: q17's per-nation status columns melt
    * back into (n_name, status, cnt) rows via the native
    * `Dataset.unpivot` (Spark's UNPIVOT operator — a Generator-class
    * expansion, 3 output rows per input row, no shuffle of its own; the
    * only exchanges are q17's). The spec pins the round-trip law:
    * unpivot(pivot(x)) equals the direct long-form aggregation row for
    * row — the property that makes reshaping safe to use in pipelines
    * at all. Oracle melts the same wide CTE with UNION ALL (the
    * engine-neutral spelling). */
  val q52 = Q("q52_unpivot", {
    val wideSql = q17.oracle.get
    s"""WITH wide AS ($wideSql)
       |SELECT n_name, 'F' AS status, CAST(f_cnt AS BIGINT) AS cnt FROM wide
       |UNION ALL
       |SELECT n_name, 'O', CAST(o_cnt AS BIGINT) FROM wide
       |UNION ALL
       |SELECT n_name, 'P', CAST(p_cnt AS BIGINT) FROM wide
       |ORDER BY n_name, status""".stripMargin
  }) { (s, d) =>
    q17.run(s, d)
      .unpivot(Array(col("n_name")),
        Array(col("f_cnt"), col("o_cnt"), col("p_cnt")), "status_col", "cnt")
      .select(col("n_name"),
        upper(substring(col("status_col"), 1, 1)).as("status"), col("cnt"))
      .orderBy("n_name", "status")
  }

  // ---------------------------------------------------------------- q53
  /** As-of join with TOLERANCE and BOTH directions — the parameter
    * surface (pandas `merge_asof`, kdb `aj` staleness caps) q20's plain
    * backward-asof lacks: per event, the latest signup at-or-before
    * (backward) AND the earliest signup at-or-after (forward), each
    * nulled when the match is staler than the 1 h tolerance — "use the
    * last reading unless it has expired".
    *
    * Same single-shuffle composition as q20, run twice over one tagged
    * union: a (user)-keyed window ordered (micros, tag) carries the
    * latest right-side (instant, value) struct forward via
    * `last(..., ignoreNulls)`; the mirrored descending window supplies
    * the forward match; the tolerance is then a residual null-out
    * comparing the carried instant — no range join, no per-event
    * subquery. The oracle states the textbook correlated form
    * (`max_by`/`min_by` within the tolerance window), so the
    * window-carry rewrite is checked against the definition, not
    * against itself. */
  val q53 = Q("q53_asof_tolerance",
    """WITH s AS (SELECT user_id, epoch_us(ts) AS m, value FROM events
      |           WHERE event_type = 'signup'),
      |e AS (SELECT event_id, user_id, epoch_us(ts) AS m FROM events)
      |SELECT e.event_id,
      |  (SELECT max_by(s.value, s.m) FROM s
      |   WHERE s.user_id = e.user_id AND s.m <= e.m
      |     AND s.m >= e.m - 3600000000) AS backward_value,
      |  (SELECT min_by(s.value, s.m) FROM s
      |   WHERE s.user_id = e.user_id AND s.m >= e.m
      |     AND s.m <= e.m + 3600000000) AS forward_value
      |FROM e ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val Tol = 3600000000L
    val ev = Tables.events(s, d)
    val m = EventStreams.eventMicros(ev)
    val left = ev.select(col("event_id"), col("user_id"), m.as("m"),
      lit(1).as("tag"), lit(null).cast("double").as("v"))
    val right = ev.filter(col("event_type") === "signup")
      .select(lit(null).cast("long").as("event_id"), col("user_id"),
        m.as("m"), lit(0).as("tag"), col("value").as("v"))
    val hit = when(col("tag") === 0,
      struct(col("m").as("sm"), col("v").as("sv")))
    val wb = Window.partitionBy("user_id").orderBy(col("m"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id")
      .orderBy(col("m").desc, col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("b", last(hit, ignoreNulls = true).over(wb))
      .withColumn("f", last(hit, ignoreNulls = true).over(wf))
      .filter(col("tag") === 1)
      .select(col("event_id"),
        when(col("b").isNotNull && col("m") - col("b.sm") <= Tol,
          col("b.sv")).as("backward_value"),
        when(col("f").isNotNull && col("f.sm") - col("m") <= Tol,
          col("f.sv")).as("forward_value"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q54
  /** Point-in-time (temporal) dimension lookup — the join class the
    * as-of family (q20/q53: nearest MEASURE) and the interval joins
    * (q12/q42: static ranges) both miss: facts against a VERSIONED SCD2
    * dimension, each fact matched to the version whose validity interval
    * `[valid_from, valid_to)` contains the fact's event time. This is
    * the warehouse "AS OF" join every fact-table enrichment runs —
    * dimensions change (price lists, user tiers, model versions) and a
    * 100 TB backfill must attribute each fact to the attributes in force
    * AT ITS TIME, not the current ones.
    *
    * The dimension is st04's SCD2 build restricted to the non-purchase
    * events (each user's browsing-regime history); facts are the
    * purchases. The naive plan is a user+range join (candidate cost
    * Σ_u versions_u · facts_u, then an interval filter + dedup); the
    * plan here ELIMINATES the range join with the q20 union-LOCF trick:
    * version-start rows (tag 0) union fact rows (tag 1), one user-keyed
    * window ordered `(ts, tag, island)`, and `last(…, ignoreNulls)`
    * carries the governing version onto each fact — version attributes
    * travel in ONE struct so regime/valid_from/n are always the SAME
    * row's. Equal-timestamp hazards are total-ordered away: a version
    * starting exactly at a fact's timestamp governs it (tag 0 < tag 1 =
    * inclusive start), and a zero-width version `[t, t)` is superseded
    * by its successor (island ascending, later version last in frame —
    * exactly the oracle's empty-interval semantics). Facts before the
    * first version keep NULL attributes (left-join semantics).
    *
    * Scale: two user-keyed window cascades + one union — every shuffle
    * is on user_id, nothing corpus-global, and the LOCF form is skew-
    * safe where the range join is not (a hyperactive user costs
    * O(rows_u log rows_u) sort, not versions_u · facts_u candidates).
    * Event time through the dtype-adaptive accessor
    * ([[EventStreams.eventTs]]). */
  val q54 = Q("q54_pit_join",
    """WITH base AS (
      |  SELECT user_id, event_type, ts, event_id FROM events
      |  WHERE event_type <> 'purchase'),
      |ordered AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |islands AS (
      |  SELECT user_id, event_type, ts,
      |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS island
      |  FROM ordered),
      |dim AS (
      |  SELECT user_id, event_type AS regime, island,
      |    min(ts) AS valid_from, count(*) AS regime_n
      |  FROM islands GROUP BY user_id, event_type, island),
      |dim2 AS (
      |  SELECT user_id, regime, valid_from, regime_n,
      |    coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY island),
      |             TIMESTAMP '9999-12-31 00:00:00') AS valid_to
      |  FROM dim),
      |p AS (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, d.regime,
      |  coalesce(d.valid_from, TIMESTAMP '9999-12-31 00:00:00')
      |    AS regime_from,
      |  CAST(d.regime_n AS BIGINT) AS regime_n
      |FROM p LEFT JOIN dim2 d
      |  ON p.user_id = d.user_id
      | AND p.ts >= d.valid_from AND p.ts < d.valid_to
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val ev0 = Tables.events(s, d)
    val ev = ev0.withColumn("ts", EventStreams.eventTs(ev0))
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dim = ev.filter(col("event_type") =!= "purchase")
      .withColumn("chg",
        when(not(lag(col("event_type"), 1).over(wOrd) <=> col("event_type")), 1)
          .otherwise(0))
      .withColumn("island", sum(col("chg")).over(wRun))
      .groupBy("user_id", "event_type", "island")
      .agg(min("ts").as("ts"), count(lit(1)).cast("long").as("regime_n"))
      .select(col("user_id"), col("ts"), lit(0).as("tag"), col("island"),
        lit(null).cast("long").as("event_id"),
        struct(col("event_type").as("regime"), col("ts").as("regime_from"),
          col("regime_n")).as("ver"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        lit(null).cast("long").as("island"), col("event_id"),
        lit(null).cast(dim.schema("ver").dataType).as("ver"))
    val wLocf = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("tag"), col("island").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("gov", last(col("ver"), ignoreNulls = true).over(wLocf))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("gov.regime").as("regime"),
        // no-match sentinel instead of a NULL timestamp (the st04
        // convention; regime/regime_n stay NULL as the match flags)
        coalesce(col("gov.regime_from"), lit("9999-12-31 00:00:00")
          .cast(org.apache.spark.sql.types.TimestampNTZType))
          .as("regime_from"),
        col("gov.regime_n").as("regime_n"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q55
  /** Declarative data-quality constraint audit — the expectations pass
    * (Great Expectations / dbt-test / Deequ class) every ingestion gate
    * runs before publishing a 100 TB batch: a fixed rule book evaluated
    * set-wise, one result row per rule with checked/violation counts,
    * exact-ppm violation rate, and a DETERMINISTIC sample key (the
    * minimum offending key — a reproducible repro pointer, not a random
    * exemplar). Violations are REPORTED, never filtered — the audit is
    * the publish/quarantine decision input (in03 is the row-level
    * quarantine arm).
    *
    * Rule classes and their plan shapes, each the cheapest dataflow for
    * its class:
    *  - row-local predicates (quantity range, discount cap, flag
    *    domain): ONE fused lineitem pass — conditional count + min
    *    aggregates, map-side combined, then a 1-row → 3-row explode;
    *    adding a rule adds columns, never scans;
    *  - key uniqueness ((orderkey, linenumber)): one keyed hash agg,
    *    groups-with-count>1;
    *  - referential integrity (lineitem→orders, orders→customer): a
    *    distinct-key left join probing for misses (bloom/broadcast at
    *    scale — the q45 machinery);
    *  - cross-table business law (no lineitem ships before its order is
    *    placed): the co-partitioned orderkey equi join.
    * On this corpus four rules fire (dup line numbers, early ships,
    * range/cap breaches) and three hold — the audit distinguishes dirty
    * from clean rather than rubber-stamping either. */
  val q55 = Q("q55_constraint_audit",
    """WITH rowlocal AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 40) THEN 1 ELSE 0 END) AS v_qty,
      |    min(CASE WHEN NOT (l_quantity BETWEEN 1 AND 40) THEN l_orderkey END) AS k_qty,
      |    sum(CASE WHEN l_discount > 0.07 THEN 1 ELSE 0 END) AS v_disc,
      |    min(CASE WHEN l_discount > 0.07 THEN l_orderkey END) AS k_disc,
      |    sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS v_flag,
      |    min(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN l_orderkey END) AS k_flag
      |  FROM lineitem),
      |uniq AS (
      |  SELECT count(*) AS n, sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS v,
      |    min(CASE WHEN c > 1 THEN l_orderkey END) AS k
      |  FROM (SELECT l_orderkey, l_linenumber, count(*) AS c
      |        FROM lineitem GROUP BY 1, 2)),
      |ri_li AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v,
      |    min(CASE WHEN o_orderkey IS NULL THEN l_orderkey END) AS k
      |  FROM (SELECT DISTINCT l_orderkey FROM lineitem) d
      |  LEFT JOIN orders ON o_orderkey = d.l_orderkey),
      |ri_ord AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS v,
      |    min(CASE WHEN c_custkey IS NULL THEN o_orderkey END) AS k
      |  FROM orders LEFT JOIN customer ON c_custkey = o_custkey),
      |law AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS v,
      |    min(CASE WHEN l_shipdate < o_orderdate THEN l_orderkey END) AS k
      |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      |stacked AS (
      |  SELECT 'li_qty_range' AS constraint_name, n, v_qty AS v, k_qty AS k FROM rowlocal
      |  UNION ALL
      |  SELECT 'li_discount_max', n, v_disc, k_disc FROM rowlocal
      |  UNION ALL
      |  SELECT 'li_flag_domain', n, v_flag, k_flag FROM rowlocal
      |  UNION ALL SELECT 'li_line_unique', n, v, k FROM uniq
      |  UNION ALL SELECT 'li_order_ri', n, v, k FROM ri_li
      |  UNION ALL SELECT 'ord_cust_ri', n, v, k FROM ri_ord
      |  UNION ALL SELECT 'li_ship_after_order', n, v, k FROM law)
      |SELECT constraint_name, CAST(n AS BIGINT) AS n_checked,
      |  CAST(v AS BIGINT) AS n_violations,
      |  CAST((v * 1000000) // n AS BIGINT) AS violation_ppm,
      |  CAST(k AS BIGINT) AS sample_key
      |FROM stacked ORDER BY constraint_name""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val rowlocal = li.agg(count(lit(1)).as("n"),
      sum(when(not(col("l_quantity").between(1, 40)), 1).otherwise(0))
        .as("v_qty"),
      min(when(not(col("l_quantity").between(1, 40)), col("l_orderkey")))
        .as("k_qty"),
      sum(when(col("l_discount") > 0.07, 1).otherwise(0)).as("v_disc"),
      min(when(col("l_discount") > 0.07, col("l_orderkey"))).as("k_disc"),
      sum(when(not(col("l_returnflag").isin("A", "N", "R")), 1).otherwise(0))
        .as("v_flag"),
      min(when(not(col("l_returnflag").isin("A", "N", "R")),
        col("l_orderkey"))).as("k_flag"))
    val local3 = rowlocal.select(explode(array(
      expr("named_struct('constraint_name', 'li_qty_range', 'n', n," +
        " 'v', v_qty, 'k', k_qty)"),
      expr("named_struct('constraint_name', 'li_discount_max', 'n', n," +
        " 'v', v_disc, 'k', k_disc)"),
      expr("named_struct('constraint_name', 'li_flag_domain', 'n', n," +
        " 'v', v_flag, 'k', k_flag)"))).as("r"))
      .select("r.constraint_name", "r.n", "r.v", "r.k")
    val uniq = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") > 1, 1).otherwise(0)).as("v"),
        min(when(col("c") > 1, col("l_orderkey"))).as("k"))
      .select(lit("li_line_unique").as("constraint_name"),
        col("n"), col("v"), col("k"))
    val riLi = li.select("l_orderkey").distinct()
      .join(ord.select("o_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("v"),
        min(when(col("o_orderkey").isNull, col("l_orderkey"))).as("k"))
      .select(lit("li_order_ri").as("constraint_name"),
        col("n"), col("v"), col("k"))
    val riOrd = ord
      .join(Tables.customer(s, d).select("c_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_custkey").isNull, 1).otherwise(0)).as("v"),
        min(when(col("c_custkey").isNull, col("o_orderkey"))).as("k"))
      .select(lit("ord_cust_ri").as("constraint_name"),
        col("n"), col("v"), col("k"))
    val law = li.join(ord, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1).otherwise(0))
          .as("v"),
        min(when(col("l_shipdate") < col("o_orderdate"), col("l_orderkey")))
          .as("k"))
      .select(lit("li_ship_after_order").as("constraint_name"),
        col("n"), col("v"), col("k"))
    local3.unionByName(uniq).unionByName(riLi).unionByName(riOrd)
      .unionByName(law)
      .select(col("constraint_name"), col("n").cast("long").as("n_checked"),
        col("v").cast("long").as("n_violations"),
        expr("(CAST(v AS BIGINT) * 1000000L) DIV n").as("violation_ppm"),
        col("k").cast("long").as("sample_key"))
      .orderBy("constraint_name")
  }

  // ---------------------------------------------------------------- q56
  /** Recursive hierarchy traversal + subtree rollup — the WITH
    * RECURSIVE operator class Spark has no native form of (org charts,
    * bills of materials, category trees — every warehouse has one):
    * per node, its DEPTH (walked down from the roots) and its full
    * SUBTREE aggregate (value and node counts rolled bottom-up). The
    * hierarchy is the decimal-prefix forest over customers
    * (`parent(c) = c div 10`, roots 1..9) — six levels at sf 0.1.
    *
    * The Spark side is the honest ITERATIVE dataflow a general edge
    * list needs (nothing exploits the closed-form parent): depth by
    * frontier relaxation from the roots (g09's min-plus shape — one
    * child-keyed equi join per level), subtree sums by bottom-up
    * fixpoint `s_{k+1}(v) = own(v) + Σ_children s_k(child)` — one
    * parent-keyed agg join per level, lineage cut per round, six
    * unrolled rounds to match the oracle (a production loop adds g01's
    * convergence check; values stabilise once k reaches the tree
    * height, so the extra rounds are no-ops). Money rolls up in exact
    * integer cents. The ORACLE deliberately takes the other
    * formulation — ancestor explosion in closed form — so two
    * independent algorithms must agree on every row (the mm09
    * two-formulations discipline). At 100 TB: per level one keyed join
    * + one map-side-combined agg over a frontier that is
    * level-partitioned by construction; state per node is 3 integers. */
  val q56 = Q("q56_hierarchy_rollup",
    """WITH nodes AS (
      |  SELECT c_custkey + 1 AS c,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS own
      |  FROM customer),
      |anc AS (
      |  SELECT n.c, n.c // t.div AS a
      |  FROM nodes n, (SELECT unnest([1, 10, 100, 1000, 10000, 100000,
      |                                1000000]) AS div) t
      |  WHERE n.c // t.div > 0),
      |st AS (
      |  SELECT anc.a, CAST(sum(n.own) AS BIGINT) AS subtree_cents,
      |    CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM anc JOIN nodes n ON n.c = anc.c
      |  GROUP BY anc.a)
      |SELECT n.c - 1 AS custkey,
      |  CAST(len(CAST(n.c AS VARCHAR)) - 1 AS BIGINT) AS depth,
      |  st.subtree_cents, st.n_nodes
      |FROM nodes n JOIN st ON st.a = n.c
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    // node ids are 1-based (custkey + 1) so the decimal-prefix parent
    // rule has no self-parent at 0; the output restores the raw key
    val nodes = Tables.customer(s, d)
      .select((col("c_custkey") + 1).as("c"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("own"),
        expr("(c_custkey + 1) DIV 10").as("parent"))
      .localCheckpoint()
    // depth: frontier relaxation from the roots, one level per round
    // depth needs no per-level checkpoint or anti-join: each node joins
    // the PREVIOUS level only (depth is functional in the parent), so
    // the frontier itself is the recursion variable - 6 chained joins,
    // linear lineage, one union at the end
    var frontier = nodes.filter(col("parent") === 0)
      .select(col("c"), lit(0L).as("depth"))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    for (_ <- 1 to 6) {
      frontier = nodes
        .join(frontier.select(col("c").as("parent"), col("depth")), "parent")
        .select(col("c"), (col("depth") + 1).as("depth"))
      levels += frontier
    }
    val depth = levels.reduce(_ union _).localCheckpoint()
    // r8 ADVICE: the relaxation reaches a node only through an unbroken
    // ancestor chain, which holds because custkey is 0-based dense (so
    // every decimal prefix of c = custkey + 1 is itself a node). If the
    // key base ever changes, gap nodes would silently vanish while the
    // oracle (depth = digit length) still emits them — assert full
    // frontier coverage so the divergence fails HERE, not as a
    // cross-engine hash mismatch. Both inputs are checkpointed, so the
    // two counts are artifact-sized reads, not plan re-executions.
    val cnts = nodes.agg(count(lit(1)).as("n"))
      .crossJoin(depth.agg(count(lit(1)).as("nd"))).head() // one job, not two
    val nNodes = cnts.getLong(0)
    val nDepth = cnts.getLong(1)
    require(nDepth == nNodes,
      s"q56: depth relaxation covered $nDepth of $nNodes nodes — the " +
        "decimal-prefix ancestor chain has a gap (non-dense key base?)")
    // subtree rollup: bottom-up fixpoint, one parent-keyed agg per round
    // r16 tried removing the per-round checkpoints (linear lineage, no
    // recompute) — min-of-3 went UNSTABLE (1.98 s one run, 5.02 s the
    // next: the checkpointless 6-join chain loses per-round runtime
    // statistics and AQE's strategy flips run to run), so the eager
    // materializations stay.
    var st = nodes.select(col("c"), col("own").as("subtree_cents"),
      lit(1L).as("n_nodes"))
      .localCheckpoint()
    for (_ <- 1 to 6) {
      val fromChildren = st
        .join(nodes.select(col("c"), col("parent")), "c")
        .filter(col("parent") > 0)
        .groupBy(col("parent").as("c"))
        .agg(sum("subtree_cents").as("cs"), sum("n_nodes").as("cn"))
      st = nodes
        .join(fromChildren, Seq("c"), "left")
        .select(col("c"),
          (col("own") + coalesce(col("cs"), lit(0L))).as("subtree_cents"),
          (lit(1L) + coalesce(col("cn"), lit(0L))).as("n_nodes"))
        .localCheckpoint()
    }
    nodes.select("c")
      .join(depth, "c").join(st, "c")
      .select((col("c") - 1).as("custkey"), col("depth"),
        col("subtree_cents").cast("long").as("subtree_cents"),
        col("n_nodes").cast("long").as("n_nodes"))
      .orderBy("custkey")
  }

  // ---------------------------------------------------------------- q57
  /** Join-skew advisor — the diagnostic that DECIDES q43's salting
    * before a 100 TB join runs (the d20/s13 tuning-table discipline,
    * applied to shuffle planning): per prospective join key, the key
    * cardinality, the hottest key's row count and identity, the
    * max/mean imbalance in exact ppm, and the salt factor ⌈max/mean⌉ a
    * salted two-phase plan would need to level the hot partition. An
    * imbalance near 10⁶ ppm (max ≈ mean) says hash partitioning is
    * fine; orders of magnitude above says the q43 form (or AQE skew
    * splitting) is mandatory — measured here so the decision is data,
    * not folklore.
    *
    * One map-side-combined count agg per audited key + a second
    * keys-sized reduce: the advisor costs the cheapest possible pass
    * over each join input, and its state is one row per DISTINCT key
    * (what the shuffle would hash anyway). Hot-key identity ties break
    * on the smallest key — fully deterministic output. */
  val q57 = Q("q57_skew_report",
    """WITH ek AS (SELECT user_id AS k FROM events),
      |lk AS (SELECT l_orderkey AS k FROM lineitem),
      |ok AS (SELECT o_custkey AS k FROM orders),
      |stats AS (
      |  SELECT 'events.user_id' AS key_col, count(*) AS n_rows,
      |    count(DISTINCT k) AS n_keys FROM ek
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey', count(*), count(DISTINCT k) FROM lk
      |  UNION ALL
      |  SELECT 'orders.o_custkey', count(*), count(DISTINCT k) FROM ok),
      |hot AS (
      |  SELECT 'events.user_id' AS key_col,
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000 AS BIGINT)
      |      AS max_rows,
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000
      |      * 1000000000000000000 - max(p) AS BIGINT) AS hot_key
      |  FROM (SELECT CAST(count(*) AS HUGEINT) * 1000000000000000000 - k AS p
      |        FROM ek GROUP BY k) x
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey',
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000 AS BIGINT),
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000
      |      * 1000000000000000000 - max(p) AS BIGINT)
      |  FROM (SELECT CAST(count(*) AS HUGEINT) * 1000000000000000000 - k AS p
      |        FROM lk GROUP BY k) x
      |  UNION ALL
      |  SELECT 'orders.o_custkey',
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000 AS BIGINT),
      |    CAST((max(p) + 999999999999999999) // 1000000000000000000
      |      * 1000000000000000000 - max(p) AS BIGINT)
      |  FROM (SELECT CAST(count(*) AS HUGEINT) * 1000000000000000000 - k AS p
      |        FROM ok GROUP BY k) x)
      |SELECT s.key_col, CAST(s.n_rows AS BIGINT) AS n_rows,
      |  CAST(s.n_keys AS BIGINT) AS n_keys,
      |  CAST(h.hot_key AS BIGINT) AS hot_key,
      |  CAST(h.max_rows AS BIGINT) AS max_rows,
      |  CAST((h.max_rows * s.n_keys * 1000000) // s.n_rows AS BIGINT)
      |    AS imbalance_ppm,
      |  CAST((h.max_rows * s.n_keys + s.n_rows - 1) // s.n_rows AS BIGINT)
      |    AS recommended_salt
      |FROM stats s JOIN hot h ON h.key_col = s.key_col
      |ORDER BY s.key_col""".stripMargin) { (s, d) =>
    def audit(df: DataFrame, key: String, label: String): DataFrame = {
      val counts = df.groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("c"))
      // hot-key election by packed-key max (the q37 DECIMAL trick: count
      // then smallest-key tiebreak) - a keys-global WINDOW here would
      // funnel every distinct key through one partition
      val hot = counts
        .agg(max(expr("CAST(c AS DECIMAL(38,0)) * 1000000000000000000 - k"))
          .as("p"))
        .select(expr("CAST((p + 999999999999999999) div 1000000000000000000" +
            " AS BIGINT)").as("max_rows"),
          // div yields BIGINT - recast to DECIMAL before re-scaling or
          // the multiply overflows long under ANSI
          expr("CAST(CAST((p + 999999999999999999) div 1000000000000000000" +
            " AS DECIMAL(38,0)) * 1000000000000000000 - p AS BIGINT)")
            .as("hot_key"))
      counts.agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"))
        .crossJoin(broadcast(hot))
        .select(lit(label).as("key_col"),
          col("n_rows").cast("long").as("n_rows"),
          col("n_keys").cast("long").as("n_keys"), col("hot_key"),
          col("max_rows").cast("long").as("max_rows"),
          expr("(max_rows * n_keys * 1000000L) DIV n_rows")
            .as("imbalance_ppm"),
          expr("(max_rows * n_keys + n_rows - 1) DIV n_rows")
            .as("recommended_salt"))
    }
    audit(Tables.events(s, d), "user_id", "events.user_id")
      .unionByName(audit(Tables.lineitem(s, d), "l_orderkey",
        "lineitem.l_orderkey"))
      .unionByName(audit(Tables.orders(s, d), "o_custkey",
        "orders.o_custkey"))
      .orderBy("key_col")
  }

  // ---------------------------------------------------------------- q58
  /** Single-pass column profiler (the Deequ/data-profiling class q55's
    * rule audit presumes: before you can ASSERT constraints you have to
    * SEE the data) — per profiled column: row count, null count, exact
    * null rate in ppm, exact distinct count, canonical min/max
    * representations, and an exact integer mean for money columns. The
    * frame under profile is `orders` enriched with its per-order
    * RETURNS aggregate (left join) — the mart frame where null
    * accounting is non-vacuous by construction: `ret_lines`/`ret_cents`
    * are genuinely NULL for the ~26% of orders with no returned lines
    * (the sparse-enrichment-column shape every wide feature table has),
    * while the base order columns profile dense — the report shows both
    * regimes side by side.
    *
    * Scale design: ONE enrichment join (orderkey-keyed, map-side
    * pre-aggregated returns) + ONE profile pass. Null counts, min/max,
    * and the money
    * sums are all map-side-combined hash-agg state (a few scalars per
    * partition); the six exact `count(DISTINCT …)` rewrite into ONE
    * shuffle via Catalyst's Expand (6× row replication — the documented
    * cost of exactness; at 100 TB the config swap is q10c's HLL
    * registers per column, same output shape, bounded state). The
    * report is column-count-sized. Cross-engine determinism: money
    * canonicalises to integer cents BEFORE any aggregate (the q01
    * discipline), timestamps to a fixed `yyyy-MM-dd HH:mm:ss` format,
    * means are exact integer floor-divisions over positive sums (the
    * q51 positive-operand DIV == // agreement), and every ratio carries
    * the p15 zero-denominator guard. */
  val q58 = Q("q58_column_profile", {
    """WITH r AS (
      |  SELECT l_orderkey,
      |    CAST(count(*) AS BIGINT) AS ret_lines,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |         AS BIGINT) AS ret_cents
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey),
      |j AS (
      |  SELECT o.o_orderkey, o.o_orderstatus,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS tp_cents,
      |    o.o_orderdate, r.ret_lines, r.ret_cents
      |  FROM orders o LEFT JOIN r ON r.l_orderkey = o.o_orderkey),
      |a AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_k,
      |    count(DISTINCT o_orderkey) AS nd_k,
      |    CAST(min(o_orderkey) AS VARCHAR) AS mn_k,
      |    CAST(max(o_orderkey) AS VARCHAR) AS mx_k,
      |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn_st,
      |    count(DISTINCT o_orderstatus) AS nd_st,
      |    min(o_orderstatus) AS mn_st, max(o_orderstatus) AS mx_st,
      |    sum(CASE WHEN tp_cents IS NULL THEN 1 ELSE 0 END) AS nn_tp,
      |    count(DISTINCT tp_cents) AS nd_tp,
      |    CAST(min(tp_cents) AS VARCHAR) AS mn_tp,
      |    CAST(max(tp_cents) AS VARCHAR) AS mx_tp,
      |    sum(tp_cents) AS sm_tp, count(tp_cents) AS ct_tp,
      |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn_od,
      |    count(DISTINCT o_orderdate) AS nd_od,
      |    strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn_od,
      |    strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx_od,
      |    sum(CASE WHEN ret_lines IS NULL THEN 1 ELSE 0 END) AS nn_nr,
      |    count(DISTINCT ret_lines) AS nd_nr,
      |    CAST(min(ret_lines) AS VARCHAR) AS mn_nr,
      |    CAST(max(ret_lines) AS VARCHAR) AS mx_nr,
      |    sum(CASE WHEN ret_cents IS NULL THEN 1 ELSE 0 END) AS nn_rc,
      |    count(DISTINCT ret_cents) AS nd_rc,
      |    CAST(min(ret_cents) AS VARCHAR) AS mn_rc,
      |    CAST(max(ret_cents) AS VARCHAR) AS mx_rc,
      |    sum(ret_cents) AS sm_rc, count(ret_cents) AS ct_rc
      |  FROM j)
      |SELECT * FROM (
      |  SELECT 'o_orderkey' AS column_name, CAST(n AS BIGINT) AS n_rows,
      |    CAST(nn_k AS BIGINT) AS n_nulls,
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_k * 1000000 // n END
      |         AS BIGINT) AS null_ppm,
      |    CAST(nd_k AS BIGINT) AS n_distinct,
      |    mn_k AS min_repr, mx_k AS max_repr,
      |    CAST(NULL AS BIGINT) AS mean_cents FROM a
      |  UNION ALL
      |  SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(nn_st AS BIGINT),
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_st * 1000000 // n END
      |         AS BIGINT),
      |    CAST(nd_st AS BIGINT), mn_st, mx_st, CAST(NULL AS BIGINT)
      |  FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice_cents', CAST(n AS BIGINT), CAST(nn_tp AS BIGINT),
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_tp * 1000000 // n END
      |         AS BIGINT),
      |    CAST(nd_tp AS BIGINT), mn_tp, mx_tp,
      |    CAST(CASE WHEN ct_tp = 0 THEN NULL
      |              ELSE sm_tp // ct_tp END AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 'o_orderdate', CAST(n AS BIGINT), CAST(nn_od AS BIGINT),
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_od * 1000000 // n END
      |         AS BIGINT),
      |    CAST(nd_od AS BIGINT), mn_od, mx_od, CAST(NULL AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 'ret_lines', CAST(n AS BIGINT), CAST(nn_nr AS BIGINT),
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_nr * 1000000 // n END
      |         AS BIGINT),
      |    CAST(nd_nr AS BIGINT), mn_nr, mx_nr, CAST(NULL AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 'ret_cents', CAST(n AS BIGINT), CAST(nn_rc AS BIGINT),
      |    CAST(CASE WHEN n = 0 THEN 0 ELSE nn_rc * 1000000 // n END
      |         AS BIGINT),
      |    CAST(nd_rc AS BIGINT), mn_rc, mx_rc,
      |    CAST(CASE WHEN ct_rc = 0 THEN NULL
      |              ELSE sm_rc // ct_rc END AS BIGINT) FROM a)
      |ORDER BY column_name""".stripMargin
  }) { (s, d) =>
    val r = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey")
      .agg(count(lit(1)).cast("long").as("ret_lines"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .cast("long").as("ret_cents"))
    val j = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("tp_cents"),
        col("o_orderdate"))
      .join(r, col("l_orderkey") === col("o_orderkey"), "left")
    // per-column profile aggregates: (suffix, value, repr-of-extremum,
    // money?) — reprs apply AFTER min/max so numeric order is preserved
    val asStr = (c: Column) => c.cast("string")
    val asTs = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss")
    // (suffix, name, value, extremum-input, extremum-repr, money?).
    // EVERY min/max aggregates a PRIMITIVE (a string buffer would demote
    // the whole aggregation — all 25 aggs run in one operator — to
    // SortAggregate, which sorts the 7×-expanded rows; measured 4.0 →
    // 0.9 s at sf0.1): the single-char status profiles via its ascii
    // dictionary code and decodes after the agg (the general form of
    // this canonicalisation is a dictionary-code column for any
    // low-cardinality string). countDistinct is unaffected — the value
    // there is a GROUPING key, not an aggregation buffer.
    val profiled: Seq[(String, String, Column, Column, Column => Column,
        Boolean)] =
      Seq(
        ("k", "o_orderkey", col("o_orderkey"), col("o_orderkey"), asStr,
          false),
        ("st", "o_orderstatus", col("o_orderstatus"),
          ascii(col("o_orderstatus")), c => char(c), false),
        ("tp", "o_totalprice_cents", col("tp_cents"), col("tp_cents"), asStr,
          true),
        ("od", "o_orderdate", col("o_orderdate"), col("o_orderdate"), asTs,
          false),
        ("nr", "ret_lines", col("ret_lines"), col("ret_lines"), asStr,
          false),
        ("rc", "ret_cents", col("ret_cents"), col("ret_cents"), asStr, true))
    val aggs = profiled.flatMap { case (suf, _, v, ev, repr, money) =>
      Seq(
        sum(when(v.isNull, 1).otherwise(0)).as(s"nn_$suf"),
        countDistinct(v).as(s"nd_$suf"),
        repr(min(ev)).as(s"mn_$suf"),
        repr(max(ev)).as(s"mx_$suf")) ++
        (if (money) Seq(sum(v).as(s"sm_$suf"), count(v).as(s"ct_$suf"))
         else Nil)
    }
    val a = j.agg(count(lit(1)).as("n"), aggs: _*)
    val structs = profiled.map { case (suf, name, _, _, _, money) =>
      val mean =
        if (money)
          s"CAST(CASE WHEN ct_$suf = 0 THEN NULL ELSE sm_$suf DIV ct_$suf END AS BIGINT)"
        else "CAST(NULL AS BIGINT)"
      s"""named_struct('column_name', '$name',
         |  'n_rows', CAST(n AS BIGINT),
         |  'n_nulls', CAST(nn_$suf AS BIGINT),
         |  'null_ppm', CAST(CASE WHEN n = 0 THEN 0
         |    ELSE nn_$suf * 1000000 DIV n END AS BIGINT),
         |  'n_distinct', CAST(nd_$suf AS BIGINT),
         |  'min_repr', mn_$suf, 'max_repr', mx_$suf,
         |  'mean_cents', $mean)""".stripMargin.replace("\n", " ")
    }
    a.select(explode(expr(structs.mkString("array(", ", ", ")"))).as("r"))
      .select("r.column_name", "r.n_rows", "r.n_nulls", "r.null_ppm",
        "r.n_distinct", "r.min_repr", "r.max_repr", "r.mean_cents")
      .orderBy("column_name")
  }

  // ---------------------------------------------------------------- q59
  /** Shared value-hash for [[q59]]'s cross-set estimator — unlike q47's
    * per-column salt, both SIDES of a pair must hash the same key value
    * identically or no intersection can ever register. */
  private def q59HashSpark(c: String): String =
    s"CAST(conv(substr(md5(concat('q59:', CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT)"
  private def q59HashDuck(c: String): String =
    s"CAST(concat('0x', substr(md5('q59:' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** KMV set-operation cardinality estimation (Beyer et al., SIGMOD
    * 2007) — the PLANNER-tier sibling of q47's single-set sketch: from
    * two per-side k-min sketches, estimate |A|, |B|, |A ∪ B| and — the
    * one a planner actually wants for semi/anti-join selectivity and
    * FK inference — |A ∩ B|, without ever joining the full key sets.
    * The combined sketch is the k smallest of the sketch UNION (a
    * k-min of k-mins is a valid k-min of the union — the closure
    * property that makes KMV mergeable), ρ = |L ∩ A_k ∩ B_k| / |L|
    * scales the union estimate down to the intersection. Three audited
    * pairs span the regimes: full FK containment (lineitem→part),
    * partial overlap (orders' custkeys vs one segment's customers),
    * and small-into-large containment (event users vs customers). The
    * report carries the EXACT intersection next to every estimate (the
    * d20/q57/er03 measured-diagnostic discipline) — at 100 TB the
    * exact column is the one you drop, the estimator is the one you
    * keep, and this table is the evidence it earns that trust (k=64 →
    * ~12.5% expected relative error; spec pins the band).
    *
    * Cost: per side one distinct + one keyed k-min window over
    * DISTINCT hashes (never the raw table), then everything downstream
    * is k-sized. The exact column is one distinct semi-join, priced
    * only in the diagnostic. */
  val q59 = Q("q59_kmv_setops", {
    val k = KmvK
    s"""WITH src AS (
       |  SELECT 'lineitem_part' AS pair, 'a' AS side,
       |         ${q59HashDuck("l_partkey")} AS h, l_partkey AS key
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'lineitem_part', 'b', ${q59HashDuck("p_partkey")}, p_partkey
       |  FROM part
       |  UNION ALL
       |  SELECT 'orders_building', 'a', ${q59HashDuck("o_custkey")}, o_custkey
       |  FROM orders
       |  UNION ALL
       |  SELECT 'orders_building', 'b', ${q59HashDuck("c_custkey")}, c_custkey
       |  FROM customer WHERE c_mktsegment = 'BUILDING'
       |  UNION ALL
       |  SELECT 'users_customers', 'a', ${q59HashDuck("user_id")}, user_id
       |  FROM events
       |  UNION ALL
       |  SELECT 'users_customers', 'b', ${q59HashDuck("c_custkey")}, c_custkey
       |  FROM customer),
       |d AS (SELECT DISTINCT pair, side, h FROM src),
       |rk AS (SELECT pair, side, h,
       |         row_number() OVER (PARTITION BY pair, side ORDER BY h) AS rn,
       |         count(*) OVER (PARTITION BY pair, side) AS nd
       |       FROM d),
       |sk AS (SELECT pair, side, h, nd FROM rk WHERE rn <= $k),
       |sidest AS (
       |  SELECT pair, side,
       |    CASE WHEN max(nd) < $k THEN max(nd)
       |         ELSE CAST((CAST(${k - 1} AS HUGEINT) * 1152921504606846976)
       |                   // max(h) AS BIGINT) END AS est
       |  FROM sk GROUP BY pair, side),
       |uh AS (SELECT DISTINCT pair, h FROM sk),
       |ru AS (SELECT pair, h,
       |         row_number() OVER (PARTITION BY pair ORDER BY h) AS rn
       |       FROM uh),
       |lk AS (SELECT pair, h FROM ru WHERE rn <= $k),
       |usum AS (
       |  SELECT pair, count(*) AS nl, max(h) AS kth FROM lk GROUP BY pair),
       |uest AS (
       |  SELECT pair, nl,
       |    CASE WHEN nl < $k THEN nl
       |         ELSE CAST((CAST(${k - 1} AS HUGEINT) * 1152921504606846976)
       |                   // kth AS BIGINT) END AS est_union
       |  FROM usum),
       |kboth AS (
       |  SELECT l.pair, count(*) AS nb
       |  FROM lk l
       |  JOIN sk a ON a.pair = l.pair AND a.side = 'a' AND a.h = l.h
       |  JOIN sk b ON b.pair = l.pair AND b.side = 'b' AND b.h = l.h
       |  GROUP BY l.pair),
       |exact AS (
       |  SELECT pair, count(*) AS exact_intersect FROM (
       |    SELECT DISTINCT da.pair, da.h
       |    FROM (SELECT pair, h FROM d WHERE side = 'a') da
       |    JOIN (SELECT pair, h FROM d WHERE side = 'b') db
       |      ON db.pair = da.pair AND db.h = da.h)
       |  GROUP BY pair)
       |SELECT u.pair,
       |  CAST(ea.est AS BIGINT) AS est_a,
       |  CAST(eb.est AS BIGINT) AS est_b,
       |  CAST(u.est_union AS BIGINT) AS est_union,
       |  CAST(coalesce(kb.nb, 0) * u.est_union // u.nl AS BIGINT)
       |    AS est_intersect,
       |  CAST(coalesce(x.exact_intersect, 0) AS BIGINT) AS exact_intersect
       |FROM uest u
       |JOIN sidest ea ON ea.pair = u.pair AND ea.side = 'a'
       |JOIN sidest eb ON eb.pair = u.pair AND eb.side = 'b'
       |LEFT JOIN kboth kb ON kb.pair = u.pair
       |LEFT JOIN exact x ON x.pair = u.pair
       |ORDER BY u.pair""".stripMargin
  }) { (s, d) =>
    val k = KmvK
    def tagged(pair: String, side: String, df: DataFrame, key: String) =
      df.selectExpr(s"'$pair' AS pair", s"'$side' AS side",
        s"${q59HashSpark(key)} AS h")
    val src = tagged("lineitem_part", "a", Tables.lineitem(s, d), "l_partkey")
      .unionAll(tagged("lineitem_part", "b", Tables.part(s, d), "p_partkey"))
      .unionAll(tagged("orders_building", "a", Tables.orders(s, d),
        "o_custkey"))
      .unionAll(tagged("orders_building", "b",
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING"),
        "c_custkey"))
      .unionAll(tagged("users_customers", "a", Tables.events(s, d), "user_id"))
      .unionAll(tagged("users_customers", "b", Tables.customer(s, d),
        "c_custkey"))
    val dset = src.distinct().localCheckpoint() // consumed by 3 branches
    val wSide = Window.partitionBy("pair", "side").orderBy("h")
    val sk = dset
      .withColumn("rn", row_number().over(wSide))
      .withColumn("nd", count(lit(1)).over(
        Window.partitionBy("pair", "side")))
      .filter(col("rn") <= k)
      .localCheckpoint() // k-sized; consumed by 3 branches
    val est = s"""CASE WHEN max(nd) < $k THEN max(nd)
      | ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
      |           div max(h) AS BIGINT) END""".stripMargin.replace("\n", " ")
    val sidest = sk.groupBy("pair", "side").agg(expr(est).as("est"))
    val wU = Window.partitionBy("pair").orderBy("h")
    val lk = sk.select("pair", "h").distinct()
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") <= k)
    val uest = lk.groupBy("pair")
      .agg(count(lit(1)).as("nl"), max("h").as("kth"))
      .select(col("pair"), col("nl"),
        expr(s"""CASE WHEN nl < $k THEN nl
          | ELSE CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)
          |           div kth AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("est_union"))
    val kboth = lk.select(col("pair"), col("h"))
      .join(sk.filter(col("side") === "a").select(col("pair"), col("h")),
        Seq("pair", "h"), "left_semi")
      .join(sk.filter(col("side") === "b").select(col("pair"), col("h")),
        Seq("pair", "h"), "left_semi")
      .groupBy("pair").agg(count(lit(1)).as("nb"))
    val exact = dset.filter(col("side") === "a").select("pair", "h")
      .join(dset.filter(col("side") === "b").select("pair", "h"),
        Seq("pair", "h"), "left_semi")
      .groupBy("pair").agg(count(lit(1)).as("exact_intersect"))
    uest
      .join(sidest.filter(col("side") === "a")
        .select(col("pair"), col("est").as("est_a")), "pair")
      .join(sidest.filter(col("side") === "b")
        .select(col("pair"), col("est").as("est_b")), "pair")
      .join(kboth, Seq("pair"), "left")
      .join(exact, Seq("pair"), "left")
      .select(col("pair"),
        col("est_a").cast("long").as("est_a"),
        col("est_b").cast("long").as("est_b"),
        col("est_union").cast("long").as("est_union"),
        expr("CAST(coalesce(nb, 0L) * est_union DIV nl AS BIGINT)")
          .as("est_intersect"),
        coalesce(col("exact_intersect"), lit(0L)).cast("long")
          .as("exact_intersect"))
      .orderBy("pair")
  }

  // ---------------------------------------------------------------- q60
  /** AMS sketch parameters: [[AmsB]] = [[AmsGroups]] × [[AmsGroupSize]]
    * ±1 counters per (pair, side); each group is averaged, the lower
    * median across groups is the estimate (median-of-means). 60-bit
    * sign words: bucket j's sign is bit (j mod 60) of salt word
    * (j div 60), so each input row pays [[AmsSalts]] md5s, not B. */
  private val AmsGroups    = 8
  private val AmsGroupSize = 30
  private val AmsB         = AmsGroups * AmsGroupSize // 240
  private val AmsSalts     = AmsB / 60                // 4

  /** AMS/tug-of-war sketch join-size and self-join-size estimation
    * (Alon–Matias–Szegedy STOC'96; inner-product form Alon–Gibbons–
    * Matias–Szegedy PODS'99) — q59's other half at the planner tier:
    * q59 estimates KEY-SET overlap (semi-join selectivity), q60
    * estimates JOIN OUTPUT SIZE |A ⋈ B| = Σ_k f_A(k)·f_B(k), the
    * quantity that actually decides shuffle sizing and q43-style skew
    * handling, and F2 = Σ_k f(k)² (self-join size), the canonical skew
    * scalar behind q57's advisor. Sketch_s[j] = Σ_rows sign_j(key):
    * a plain integer SUM — order-free, map-side-combined, mergeable
    * across partitions/files by addition, so the shuffle carries B
    * counters per side, never rows. Estimates: per group g,
    * X_g = Σ_{j∈g} cA_j·cB_j (resp. cA_j² for F2); lower median over
    * the [[AmsGroups]] group sums, then ONE symmetric-truncation
    * division by the group size (Spark `div` truncates toward zero,
    * DuckDB `//` floors — negative medians are possible for the
    * inner-product estimator, so both engines divide the magnitude).
    * Signs: bit (j mod 60) of one of [[AmsSalts]] md5 words per key —
    * heuristic 4-wise independence (documented; production would use
    * tabulation hashing), bit-identical in both engines. The EXACT
    * join size / F2 ride along as the audit columns (per-key count
    * aggregation + key-space-sized join — the d20/q57/q59 discipline:
    * at 100 TB the exact column is the one you drop).
    *
    * Three frequency regimes: lineitem⋈orders (FK: one side
    * multiplicity 1), lineitem⋈part (≈30× per-key frequency — F2-heavy),
    * events⋈orders on custkey (genuine m:n, both sides multiplicities).
    * Cost: one projected-column pass per side with a 240-way explode of
    * shift-and-mask ops (4 md5s per row, NOT 240), partial-agg'd to
    * 240 counters before the exchange; everything downstream is
    * sketch-sized. */
  val q60 = Q("q60_ams_joinsize", {
    val g  = AmsGroups; val m = AmsGroupSize; val b = AmsB
    def w(s: Int, c: String) =
      s"CAST(concat('0x', substr(md5('q60:$s:' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT)"
    def side(pair: String, sd: String, tbl: String, c: String) =
      s"SELECT '$pair' AS pair, '$sd' AS side, ${w(0, c)} AS w0, ${w(1, c)} AS w1, ${w(2, c)} AS w2, ${w(3, c)} AS w3 FROM $tbl"
    s"""WITH src AS (
       |  ${side("events_orders", "a", "events", "user_id")}
       |  UNION ALL ${side("events_orders", "b", "orders", "o_custkey")}
       |  UNION ALL ${side("lineitem_orders", "a", "lineitem", "l_orderkey")}
       |  UNION ALL ${side("lineitem_orders", "b", "orders", "o_orderkey")}
       |  UNION ALL ${side("lineitem_part", "a", "lineitem", "l_partkey")}
       |  UNION ALL ${side("lineitem_part", "b", "part", "p_partkey")}),
       |sk AS (
       |  SELECT pair, side, j,
       |    SUM(2 * ((CASE j // 60 WHEN 0 THEN w0 WHEN 1 THEN w1
       |              WHEN 2 THEN w2 ELSE w3 END >> (j % 60)) & 1) - 1) AS c
       |  FROM src CROSS JOIN (SELECT CAST(range AS INTEGER) AS j
       |                       FROM range($b)) jj
       |  GROUP BY pair, side, j),
       |grp AS (
       |  SELECT a.pair, a.j // $m AS g, SUM(a.c * bb.c) AS xj,
       |    SUM(a.c * a.c) AS fa, SUM(bb.c * bb.c) AS fb
       |  FROM (SELECT * FROM sk WHERE side = 'a') a
       |  JOIN (SELECT * FROM sk WHERE side = 'b') bb
       |    ON bb.pair = a.pair AND bb.j = a.j
       |  GROUP BY a.pair, a.j // $m),
       |med AS (
       |  SELECT pair, g, xj, fa, fb,
       |    row_number() OVER (PARTITION BY pair ORDER BY xj, g) AS rj,
       |    row_number() OVER (PARTITION BY pair ORDER BY fa, g) AS ra,
       |    row_number() OVER (PARTITION BY pair ORDER BY fb, g) AS rb
       |  FROM grp),
       |est AS (
       |  SELECT pair,
       |    MAX(CASE WHEN rj = ${g / 2} THEN xj END) AS mj,
       |    MAX(CASE WHEN ra = ${g / 2} THEN fa END) AS ma,
       |    MAX(CASE WHEN rb = ${g / 2} THEN fb END) AS mb
       |  FROM med GROUP BY pair),
       |cnts AS (
       |  SELECT pair, side, w0 AS k, COUNT(*) AS n
       |  FROM src GROUP BY pair, side, w0),
       |exact AS (
       |  SELECT a.pair, SUM(a.n * bb.n) AS ex_join
       |  FROM (SELECT * FROM cnts WHERE side = 'a') a
       |  JOIN (SELECT * FROM cnts WHERE side = 'b') bb
       |    ON bb.pair = a.pair AND bb.k = a.k
       |  GROUP BY a.pair),
       |f2 AS (
       |  SELECT pair,
       |    SUM(CASE WHEN side = 'a' THEN n * n ELSE 0 END) AS ex_f2_a,
       |    SUM(CASE WHEN side = 'b' THEN n * n ELSE 0 END) AS ex_f2_b
       |  FROM cnts GROUP BY pair)
       |SELECT e.pair,
       |  CAST(CASE WHEN mj >= 0 THEN mj // $m ELSE -((-mj) // $m) END AS BIGINT) AS est_join,
       |  CAST(coalesce(x.ex_join, 0) AS BIGINT) AS exact_join,
       |  CAST(ma // $m AS BIGINT) AS est_f2_a,
       |  CAST(f2.ex_f2_a AS BIGINT) AS exact_f2_a,
       |  CAST(mb // $m AS BIGINT) AS est_f2_b,
       |  CAST(f2.ex_f2_b AS BIGINT) AS exact_f2_b
       |FROM est e
       |LEFT JOIN exact x ON x.pair = e.pair
       |JOIN f2 ON f2.pair = e.pair
       |ORDER BY e.pair""".stripMargin
  }) { (s, d) =>
    val g = AmsGroups; val m = AmsGroupSize; val b = AmsB
    def w(salt: Int, c: String) =
      s"CAST(conv(substr(md5(concat('q60:$salt:', CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    // №27 measured NON-case (r16): spreading the unioned raw keys to
    // session width before the 4-md5 pack regressed q60 5.55 → 6.98 s
    // isolated — the six sides already hash on six parallel scan
    // splits, and the RR exchange of 1.45M key strings (plus its
    // sort-before-repartition) costs more than the extra width wins.
    def side(pair: String, sd: String, df: DataFrame, c: String) =
      df.selectExpr(s"'$pair' AS pair", s"'$sd' AS side",
        s"CAST($c AS STRING) AS k")
    // r17 (guide §2.3, aggregate before you hash/shuffle): the sketch
    // counter Σ_rows sign_j(key) equals Σ_keys n_k·sign_j(key), so the
    // raw keys are counted per DISTINCT value first (one map-side-
    // combined hash agg over narrow strings) and the 4-md5 pack runs
    // once per distinct key instead of once per row — lineitem repeats
    // l_orderkey ~4× and l_partkey ~30×, so this cuts the dominant md5
    // CPU and the checkpointed frame by those factors. The exact audit
    // consumed per-key counts anyway; it now rides the same pre-agg
    // (its former groupBy(pair, side, w0) re-counted the raw rows).
    val src = side("events_orders", "a", Tables.events(s, d), "user_id")
      .unionAll(side("events_orders", "b", Tables.orders(s, d), "o_custkey"))
      .unionAll(side("lineitem_orders", "a", Tables.lineitem(s, d),
        "l_orderkey"))
      .unionAll(side("lineitem_orders", "b", Tables.orders(s, d),
        "o_orderkey"))
      .unionAll(side("lineitem_part", "a", Tables.lineitem(s, d),
        "l_partkey"))
      .unionAll(side("lineitem_part", "b", Tables.part(s, d), "p_partkey"))
      .groupBy("pair", "side", "k").agg(count(lit(1)).as("n"))
      .selectExpr("pair", "side", "n",
        s"${w(0, "k")} AS w0", s"${w(1, "k")} AS w1",
        s"${w(2, "k")} AS w2", s"${w(3, "k")} AS w3")
      .localCheckpoint() // consumed by the sketch AND the exact audit
    // sketch build: wide hash-aggregate passes (plain long sum buffers,
    // map-side-combined), NOT an explode: the long-form
    // groupBy(pair, side, j) twin the oracle replays would push 240×
    // the input rows through the aggregate hash table (~17 s at
    // sf0.1; results identical — the oracle proves it). The pass is
    // CHUNKED per 60-bit salt word: ONE 240-column aggregate exceeds
    // spark.sql.codegen.maxFields (100) and falls back to interpreted
    // eval (measured 11.7 s at sf0.1); four 60-column passes — each
    // reading ONLY its word column off the checkpointed src — stay
    // inside whole-stage codegen. Each pass unpivots its 6×60 result
    // via stack; everything downstream is sketch-sized long-form.
    val sk = (0 until AmsSalts).map { salt =>
      val sums = (0 until 60).map { i =>
        sum(expr(s"n * (2 * (shiftright(w$salt, $i) & 1) - 1)")).as(s"c$i")
      }
      src.select(col("pair"), col("side"), col("n"), col(s"w$salt"))
        .groupBy("pair", "side")
        .agg(sums.head, sums.tail: _*)
        .selectExpr("pair", "side",
          s"stack(60, ${(0 until 60)
            .map(i => s"${salt * 60 + i}, c$i").mkString(", ")}) AS (j, c)")
    }.reduce(_ unionAll _)
      .localCheckpoint() // 1440 rows; both sketch-join sides read it —
      // without this the agg subtrees (and their stacks) run twice
    val grp = sk.filter(col("side") === "a").select(col("pair"), col("j"),
        col("c").as("ca"))
      .join(sk.filter(col("side") === "b").select(col("pair"), col("j"),
        col("c").as("cb")), Seq("pair", "j"))
      .groupBy(col("pair"), expr(s"CAST(j div $m AS INT)").as("g"))
      .agg(sum(col("ca") * col("cb")).as("xj"),
        sum(col("ca") * col("ca")).as("fa"),
        sum(col("cb") * col("cb")).as("fb"))
    val med = grp
      .withColumn("rj", row_number().over(
        Window.partitionBy("pair").orderBy("xj", "g")))
      .withColumn("ra", row_number().over(
        Window.partitionBy("pair").orderBy("fa", "g")))
      .withColumn("rb", row_number().over(
        Window.partitionBy("pair").orderBy("fb", "g")))
      .groupBy("pair")
      .agg(max(when(col("rj") === g / 2, col("xj"))).as("mj"),
        max(when(col("ra") === g / 2, col("fa"))).as("ma"),
        max(when(col("rb") === g / 2, col("fb"))).as("mb"))
    val ests = med.select(col("pair"),
      expr(s"CASE WHEN mj >= 0 THEN mj div $m ELSE -((-mj) div $m) END")
        .cast("long").as("est_join"),
      expr(s"ma div $m").cast("long").as("est_f2_a"),
      expr(s"mb div $m").cast("long").as("est_f2_b"))
    // per-key counts already materialised by the pre-agg; grouping by
    // w0 merges the (vanishingly rare) keys whose w0 words collide —
    // identical to the former raw-row groupBy(pair, side, w0)
    val cnts = src.groupBy("pair", "side", "w0")
      .agg(sum(col("n")).as("n"))
    val exact = cnts.filter(col("side") === "a")
      .select(col("pair"), col("w0"), col("n").as("na"))
      .join(cnts.filter(col("side") === "b")
        .select(col("pair"), col("w0"), col("n").as("nb")), Seq("pair", "w0"))
      .groupBy("pair").agg(sum(col("na") * col("nb")).as("ex_join"))
    val f2 = cnts.groupBy("pair")
      .agg(sum(when(col("side") === "a", col("n") * col("n"))
        .otherwise(0L)).as("ex_f2_a"),
        sum(when(col("side") === "b", col("n") * col("n"))
          .otherwise(0L)).as("ex_f2_b"))
    ests
      .join(exact, Seq("pair"), "left")
      .join(f2, "pair")
      .select(col("pair"), col("est_join"),
        coalesce(col("ex_join"), lit(0L)).cast("long").as("exact_join"),
        col("est_f2_a"), col("ex_f2_a").cast("long").as("exact_f2_a"),
        col("est_f2_b"), col("ex_f2_b").cast("long").as("exact_f2_b"))
      .orderBy("pair")
  }

  // ---------------------------------------------------------------- q61
  /** Minimum support (baskets) for frequent items AND pairs — one
    * threshold for both is what makes the item prune LOSSLESS
    * (Apriori: sup(pair) ≤ min item sup). */
  private val MinSup = 2
  /** Mega-basket guard: baskets above this size are excluded from pair
    * generation (the d06 cap discipline — one pathological basket of
    * 10⁵ items would contribute 5·10⁹ pairs). No-op on TPC-H's ≤7-line
    * orders; the guard is the 100 TB contract. */
  private val MaxBasket = 32

  /** Market-basket association rules — Apriori-pruned frequent pairs
    * (Agrawal–Srikant VLDB'94) with confidence and lift in exact ppm:
    * baskets are orders, items are parts, and the classic retail
    * question ("what co-occurs, and does it co-occur MORE than chance")
    * lands as three hash-agg/join stages. Pipeline: distinct
    * (basket, item) pairs → item supports → the Apriori PRUNE (items
    * below [[MinSup]] leave before pair generation — lossless because
    * the pair threshold equals the item threshold, sup(pair) ≤ min
    * item sup; the spec proves no pair is missed) → per-basket pair
    * self-join (equi on basket, i1 < i2 — bounded by [[MaxBasket]]²
    * per basket, never corpus-quadratic) → pair supports ≥ [[MinSup]]
    * → both rule directions with conf = sup(p)·10⁶ div sup(ant) and
    * lift = conf·n_baskets div sup(cons) (all-integer — the er04 ppm
    * discipline; lift > 10⁶ means positively associated). This is the
    * counting form of SON/distributed Apriori: partial aggregation IS
    * the map-side candidate counting, the shuffle carries (item) and
    * (pair) keys only — no partition-local mining pass needed because
    * the 2-itemset lattice level fits the groupBy dataflow exactly.
    * At 100 TB the item-support table is dimension-sized (broadcast
    * candidate) and the pair table is output-sized; nothing holds a
    * basket in memory beyond the capped self-join. */
  val q61 = Q("q61_assoc_rules",
    s"""WITH b0 AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |bsz AS (SELECT ok FROM b0 GROUP BY ok HAVING count(*) <= $MaxBasket),
       |b AS (SELECT b0.ok, b0.pk FROM b0 JOIN bsz ON bsz.ok = b0.ok),
       |isup AS (SELECT pk, count(*) AS sup FROM b GROUP BY pk),
       |freq AS (SELECT pk, sup FROM isup WHERE sup >= $MinSup),
       |bf AS (SELECT b.ok, b.pk FROM b JOIN freq ON freq.pk = b.pk),
       |psup AS (
       |  SELECT a.pk AS p1, c.pk AS p2, count(*) AS sup
       |  FROM bf a JOIN bf c ON c.ok = a.ok AND a.pk < c.pk
       |  GROUP BY a.pk, c.pk
       |  HAVING count(*) >= $MinSup),
       |nb AS (SELECT count(DISTINCT ok) AS n FROM b),
       |rules AS (
       |  SELECT p1 AS antecedent, p2 AS consequent, sup FROM psup
       |  UNION ALL
       |  SELECT p2, p1, sup FROM psup)
       |SELECT r.antecedent, r.consequent,
       |  CAST(r.sup AS BIGINT) AS pair_sup,
       |  CAST(fa.sup AS BIGINT) AS ant_sup,
       |  CAST(fc.sup AS BIGINT) AS cons_sup,
       |  CAST(r.sup * 1000000 // fa.sup AS BIGINT) AS conf_ppm,
       |  CAST((r.sup * 1000000 // fa.sup) * nb.n // fc.sup AS BIGINT)
       |    AS lift_ppm
       |FROM rules r
       |JOIN freq fa ON fa.pk = r.antecedent
       |JOIN freq fc ON fc.pk = r.consequent
       |CROSS JOIN nb
       |ORDER BY r.antecedent, r.consequent""".stripMargin) { (s, d) =>
    val b0 = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val bsz = b0.groupBy("ok").agg(count(lit(1)).as("bs"))
      .filter(col("bs") <= MaxBasket).select("ok")
    val b = b0.join(bsz, "ok").localCheckpoint() // 3 consumers
    val isup = b.groupBy("pk").agg(count(lit(1)).as("sup"))
    val freq = isup.filter(col("sup") >= MinSup).localCheckpoint()
    val bf = b.join(freq.select("pk"), "pk").select("ok", "pk")
    val psup = bf.select(col("ok"), col("pk").as("p1"))
      .join(bf.select(col("ok"), col("pk").as("p2")), "ok")
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= MinSup)
    val nb = b.agg(countDistinct("ok").as("n"))
    val rules = psup.select(col("p1").as("antecedent"),
        col("p2").as("consequent"), col("sup"))
      .unionAll(psup.select(col("p2"), col("p1"), col("sup")))
    rules
      .join(broadcast(freq.select(col("pk").as("antecedent"),
        col("sup").as("ant_sup"))), "antecedent")
      .join(broadcast(freq.select(col("pk").as("consequent"),
        col("sup").as("cons_sup"))), "consequent")
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"),
        col("sup").cast("long").as("pair_sup"),
        col("ant_sup").cast("long"),
        col("cons_sup").cast("long"),
        expr("sup * 1000000 div ant_sup").cast("long").as("conf_ppm"),
        expr("(sup * 1000000 div ant_sup) * n div cons_sup").cast("long")
          .as("lift_ppm"))
      .orderBy("antecedent", "consequent")
  }

  // ---------------------------------------------------------------- q62
  /** Shared double-finishing fragments for [[q62]] — ONE text, spliced
    * verbatim into BOTH engines, so both parse the identical expression
    * tree over the exact integer power sums. Every operation in these
    * fragments is IEEE-deterministic (+, −, ×, / are correctly-rounded
    * by the standard; sqrt is too — the ONE transcendental-adjacent op
    * that is) — no pow(), no ln(), nothing implementation-defined. */
  private val MeanD = "(CAST(s1 AS DOUBLE) / n)"
  private val M2D =
    s"((CAST(s2 AS DOUBLE) / n) - $MeanD * $MeanD)"
  private val M3D =
    s"((CAST(s3 AS DOUBLE) / n) - 3.0 * $MeanD * (CAST(s2 AS DOUBLE) / n)" +
      s" + 2.0 * $MeanD * $MeanD * $MeanD)"
  private val M4D =
    s"((CAST(s4 AS DOUBLE) / n) - 4.0 * $MeanD * (CAST(s3 AS DOUBLE) / n)" +
      s" + 6.0 * $MeanD * $MeanD * (CAST(s2 AS DOUBLE) / n)" +
      s" - 3.0 * $MeanD * $MeanD * $MeanD * $MeanD)"
  private val StdMicroSql =
    s"CAST(round(sqrt($M2D) * 1000000) AS BIGINT) AS stddev_micro"
  private val SkewMicroSql =
    s"CAST(round(($M3D / ($M2D * sqrt($M2D))) * 1000000) AS BIGINT)" +
      " AS skew_micro"
  private val KurtMicroSql =
    s"CAST(round((($M4D / ($M2D * $M2D)) - 3.0) * 1000000) AS BIGINT)" +
      " AS kurt_micro"

  /** Exact higher-moment profiling — q58's profiler extended to the
    * DISTRIBUTION-SHAPE tier (the Deequ/TFDV statistics a feature-store
    * publishes before anyone trains on a column): per money column,
    * stddev, skewness, and excess kurtosis to the micro grid. The
    * split that makes it cross-engine exact: the PASS is pure integers
    * — cents via DECIMAL(12,2)·100 (the repo money convention), then
    * power sums S1…S4 accumulated in 38-digit integers (Spark
    * DECIMAL(38,0) ↔ DuckDB HUGEINT; S4 ≤ (5.5·10⁷)⁴·6·10⁵ ≈ 5·10³⁶ at
    * the test corpus, and the bound grows with rows — so it is asserted
    * IN-OP below via n·xmax⁴ < 10³⁸, not just claimed here), with sums
    * order-free, map-side-combined, mergeable by
    * addition like q60's sketches) — and only the 5-scalar FINISHING
    * runs in doubles, through the [[StdMicroSql]]-family shared text where
    * every op is IEEE-correctly-rounded (incl. sqrt; no pow/ln). One
    * scan per table, 4 columns profiled in one union'd pass, output is
    * 4 rows. The moment-from-power-sums identities are the standard
    * one-pass (parallel) moment formulas — no second centering pass
    * over the data, which at 100 TB is the difference between one scan
    * and two. */
  val q62 = Q("q62_moments_profile",
    s"""WITH src AS (
       |  SELECT 'l_discount' AS c,
       |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
       |  FROM lineitem
       |  UNION ALL SELECT 'l_extendedprice',
       |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |  FROM lineitem
       |  UNION ALL SELECT 'l_quantity',
       |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
       |  FROM lineitem
       |  UNION ALL SELECT 'o_totalprice',
       |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |  FROM orders),
       |agg AS (
       |  SELECT c, count(*) AS n,
       |    sum(CAST(x AS HUGEINT)) AS s1,
       |    sum(CAST(x AS HUGEINT) * x) AS s2,
       |    sum(CAST(x AS HUGEINT) * x * x) AS s3,
       |    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
       |  FROM src GROUP BY c)
       |SELECT c AS column_name, CAST(n AS BIGINT) AS n_rows,
       |  CAST(s1 AS BIGINT) AS sum_cents,
       |  CAST(s1 // n AS BIGINT) AS mean_cents,
       |  $StdMicroSql, $SkewMicroSql, $KurtMicroSql
       |FROM agg
       |ORDER BY column_name""".stripMargin) { (s, d) =>
    def cents(c: String) = s"CAST(CAST($c AS DECIMAL(12,2)) * 100 AS BIGINT)"
    val li = Tables.lineitem(s, d)
    val src = li.selectExpr("'l_discount' AS c",
        s"${cents("l_discount")} AS x")
      .unionAll(li.selectExpr("'l_extendedprice'",
        cents("l_extendedprice")))
      .unionAll(li.selectExpr("'l_quantity'", cents("l_quantity")))
      .unionAll(Tables.orders(s, d).selectExpr("'o_totalprice'",
        cents("o_totalprice")))
    val agg = src.groupBy("c")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("s3"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("s4"),
        max(expr("abs(x)")).as("xmax"))
      .localCheckpoint() // 4 rows; read by the guard AND the finishing
    // r9 ADVICE: the "S4 headroom proven" claim above is computed at the
    // test corpus's row count and grows linearly with rows — and in
    // non-ANSI Spark a DECIMAL(38,0) sum overflow yields NULL silently,
    // so on a much larger corpus the moments would go null with no loud
    // failure. Assert the corpus-size assumption in-op (the q56/g12/g14
    // discipline): (a) every power sum is non-null — catches the actual
    // Spark overflow signature; (b) n·xmax⁴ < 10³⁸ — since
    // S4 ≤ n·xmax⁴, this PROVES no intermediate 38-digit overflow was
    // even reachable, failing loudly one growth step before the sum
    // itself could wrap/null. Guard reads the 4-row checkpoint artifact.
    agg.collect().foreach { r =>
      val c = r.getString(r.fieldIndex("c"))
      require(!r.isNullAt(r.fieldIndex("s1")) && !r.isNullAt(r.fieldIndex("s2"))
          && !r.isNullAt(r.fieldIndex("s3")) && !r.isNullAt(r.fieldIndex("s4")),
        s"q62: power sum overflowed DECIMAL(38,0) to null for column $c — " +
          "the corpus outgrew the 38-digit power-sum headroom")
      val n = BigInt(r.getLong(r.fieldIndex("n")))
      val xmax = BigInt(r.getLong(r.fieldIndex("xmax")))
      require(n * xmax.pow(4) < BigInt(10).pow(38),
        s"q62: n*xmax^4 = ${n * xmax.pow(4)} for column $c no longer fits " +
          "DECIMAL(38,0) — S4 could overflow on this corpus; widen the " +
          "accumulator (split sums) before trusting the moments")
    }
    agg
      .selectExpr("c AS column_name", "CAST(n AS BIGINT) AS n_rows",
        "CAST(s1 AS BIGINT) AS sum_cents",
        "CAST(s1 div n AS BIGINT) AS mean_cents",
        StdMicroSql, SkewMicroSql, KurtMicroSql)
      .orderBy("column_name")
  }

  // ---------------------------------------------------------------- q63
  /** CMS geometry: [[CmsRows]] independent md5-salted hash rows ×
    * [[CmsW]] counters. ε = e/w ≈ 1.1% of the stream length, δ = e^-d
    * ≈ 1.8% — the textbook Count-Min guarantees. */
  private val CmsRows = 4
  private val CmsW    = 256

  private def cmsBucketSql(r: Int, c: String) =
    s"CAST(concat('0x', substr(md5('q63:$r:' || CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) % $CmsW"
  private def cmsBucketSpark(r: Int, c: String) =
    s"CAST(conv(substr(md5(concat('q63:$r:', CAST($c AS STRING))), 1, 15), 16, 10) AS BIGINT) % $CmsW"

  /** Count-Min sketch heavy hitters (Cormode–Muthukrishnan 2005) —
    * q60's other canonical planner sketch: per-KEY frequency point
    * estimates from a fixed [[CmsRows]]×[[CmsW]] counter grid, where
    * q60 estimates whole-join aggregates. Build: one projected pass
    * over lineitem (4 md5s/row, the q60 budget), long-form (row,
    * bucket) explode — only 4×, not q60's 240× — into a map-side-
    * combined 1024-key count aggregate; the grid is sketch-sized and
    * broadcast. Query: every part key (the DIMENSION — candidate
    * generation is the dimension scan, the standard CMS deployment
    * against a known key domain) hashes into its 4 cells, est =
    * min over rows (left join + coalesce 0: an empty cell means the
    * key was never seen), top-20 by (est DESC, key). CMS NEVER
    * underestimates (every cell ≥ the key's true count), so est ≥
    * exact is a structural law, not a probabilistic one —
    * `SketchSpec` pins it along with the ε·N error ceiling. The exact
    * audit column is a per-key count over the same `src`, which is
    * checkpointed because it has two consumers (sketch and audit). */
  val q63 = Q("q63_cms_heavy_hitters", {
    s"""WITH src AS (
       |  SELECT l_partkey AS k, ${(0 until CmsRows).map(r =>
            s"${cmsBucketSql(r, "l_partkey")} AS b$r").mkString(", ")}
       |  FROM lineitem),
       |cnt AS (
       |  SELECT r, b, count(*) AS c FROM (
       |    ${(0 until CmsRows).map(r =>
            s"SELECT $r AS r, b$r AS b FROM src").mkString("\n    UNION ALL ")})
       |  GROUP BY r, b),
       |keys AS (
       |  SELECT p_partkey AS k, ${(0 until CmsRows).map(r =>
            s"${cmsBucketSql(r, "p_partkey")} AS b$r").mkString(", ")}
       |  FROM part),
       |est AS (
       |  SELECT keys.k, min(coalesce(cnt.c, 0)) AS est_count FROM (
       |    ${(0 until CmsRows).map(r =>
            s"SELECT k, $r AS r, b$r AS b FROM keys").mkString("\n    UNION ALL ")}) keys
       |  LEFT JOIN cnt ON cnt.r = keys.r AND cnt.b = keys.b
       |  GROUP BY keys.k),
       |exact AS (SELECT k, count(*) AS exact_count FROM src GROUP BY k)
       |SELECT CAST(e.k AS BIGINT) AS p_partkey,
       |  CAST(e.est_count AS BIGINT) AS est_count,
       |  CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count
       |FROM est e LEFT JOIN exact x ON x.k = e.k
       |ORDER BY e.est_count DESC, e.k
       |LIMIT 20""".stripMargin
  }) { (s, d) =>
    // №27: 4 md5 buckets per row ride the single lineitem scan split —
    // spread the one projected key column to session width first.
    val src = Width.spread(Tables.lineitem(s, d).select("l_partkey"))
      .selectExpr(
        Seq("l_partkey AS k") ++ (0 until CmsRows).map(r =>
          s"${cmsBucketSpark(r, "l_partkey")} AS b$r"): _*)
      .localCheckpoint()
    val cnt = src.selectExpr(
        s"stack($CmsRows, ${(0 until CmsRows)
          .map(r => s"$r, b$r").mkString(", ")}) AS (r, b)")
      .groupBy("r", "b").agg(count(lit(1)).as("c"))
    val keys = Tables.part(s, d).selectExpr(
      Seq("p_partkey AS k") ++ (0 until CmsRows).map(r =>
        s"${cmsBucketSpark(r, "p_partkey")} AS b$r"): _*)
    val est = keys.selectExpr("k",
        s"stack($CmsRows, ${(0 until CmsRows)
          .map(r => s"$r, b$r").mkString(", ")}) AS (r, b)")
      .join(broadcast(cnt), Seq("r", "b"), "left")
      .groupBy("k")
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
    val top = est
      .select(col("k").cast("long").as("p_partkey"),
        col("est_count").cast("long"))
      .orderBy(col("est_count").desc, col("p_partkey"))
      .limit(20)
    val exact = src.groupBy("k").agg(count(lit(1)).as("exact_count"))
      .select(col("k").cast("long").as("p_partkey"), col("exact_count"))
    top.join(exact, Seq("p_partkey"), "left")
      .select(col("p_partkey"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).cast("long")
          .as("exact_count"))
      .orderBy(col("est_count").desc, col("p_partkey"))
  }

  // ---------------------------------------------------------------- q64
  /** Equi-depth buckets for [[q64]]. */
  private val EqdB = 8

  /** Equi-depth histogram construction — the ANALYZE-statistics op the
    * profiling tier (q58 basic profile, q62 moments) still lacked, and
    * the statistic a cost-based optimizer actually consumes for range-
    * predicate selectivity (Spark's own `ANALYZE ... FOR COLUMNS`
    * builds exactly this shape). Boundaries are the 7 interior octile
    * values of o_totalprice in cents via the EXACT interpolated
    * quantile (q19's cross-engine-pinned arithmetic: integer-valued
    * inputs make the interpolation formula exact in both engines); at
    * 100 TB the drop-in is `approx_percentile` (KLL, mergeable) with
    * an identical plan shape — the q19/q19b tier split. Assignment is
    * one broadcast of the 1-row boundary array and a higher-order
    * `filter` count (`1 + |{i : cents ≥ b_i}|`) inside the scan
    * projection — no per-bucket scans, no global sort, no window at
    * all (the n02 ban): one pass for boundaries, one pass for the
    * 8-row report. Per bucket: bounds, row count, exact NDV, mass.
    * Depths are equal up to duplicate-value mass at the boundaries
    * (`SketchSpec` pins the balance law and a driver recompute). */
  /** q64's CTE chain ending in `hist (bucket, lo_cents, hi_cents,
    * n_rows, ndv, mass_cents)` — shared with [[q65]], which CONSUMES
    * the histogram, so estimator and statistic can never drift. */
  private def eqdHistSql: String = {
    val ps = (1 until EqdB).map(i => s"${i.toDouble / EqdB}").mkString(", ")
    s"""c AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
       |    AS cents FROM orders),
       |bnd AS (SELECT quantile_cont(cents, [$ps]) AS b FROM c),
       |assigned AS (
       |  SELECT cents, 1 + len(list_filter(b, x -> cents >= x)) AS bucket
       |  FROM c CROSS JOIN bnd),
       |hist AS (
       |  SELECT CAST(bucket AS BIGINT) AS bucket,
       |    CAST(min(cents) AS BIGINT) AS lo_cents,
       |    CAST(max(cents) AS BIGINT) AS hi_cents,
       |    CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(count(DISTINCT cents) AS BIGINT) AS ndv,
       |    CAST(sum(cents) AS BIGINT) AS mass_cents
       |  FROM assigned GROUP BY bucket)""".stripMargin
  }

  /** Spark twin of [[eqdHistSql]]: the checkpointed cents projection and
    * the 8-row histogram built from it. */
  private def eqdHist(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ps = (1 until EqdB).map(i => s"${i.toDouble / EqdB}D").mkString(", ")
    val c = Tables.orders(s, d).selectExpr(
      "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents")
      .localCheckpoint() // read by the boundary pass AND the assignment
    val bnd = c.agg(expr(s"percentile(cents, array($ps))").as("b"))
    val hist = c.crossJoin(broadcast(bnd))
      .selectExpr("cents",
        "1 + size(filter(b, x -> cents >= x)) AS bucket")
      .groupBy("bucket")
      .agg(min("cents").as("lo_cents"), max("cents").as("hi_cents"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("cents")).as("ndv"),
        sum("cents").as("mass_cents"))
      .selectExpr("CAST(bucket AS BIGINT) AS bucket", "lo_cents", "hi_cents",
        "n_rows", "ndv", "mass_cents")
    (c, hist)
  }

  val q64 = Q("q64_equidepth_histogram",
    s"""WITH $eqdHistSql
       |SELECT * FROM hist ORDER BY bucket""".stripMargin) { (s, d) =>
    eqdHist(s, d)._2.orderBy("bucket")
  }

  // ---------------------------------------------------------------- q65
  /** Range-predicate thresholds (cents) swept by [[q65]] — fixed
    * literals spanning the o_totalprice domain. */
  private val SelThresholds: Seq[Long] =
    Seq(1000000L, 5000000L, 10000000L, 20000000L, 30000000L, 40000000L)

  /** Histogram-driven selectivity estimation WITH measured error — the
    * loop a cost-based optimizer closes over q64's statistic: for each
    * range predicate `cents >= T`, the estimate a planner derives from
    * the 8-bucket equi-depth histogram (full buckets above T count
    * whole; the straddling bucket contributes
    * `n·(hi − T + 1) div (hi − lo + 1)` — the textbook value-uniformity
    * interpolation, exact integer arithmetic), next to the exact row
    * count and the absolute error in ppm of the table. This is the
    * statistic-CONSUMER q64 was built for, and the error column is the
    * number that justifies (or indicts) the uniformity assumption on a
    * real column — on TPC-H's near-uniform totalprice the measured
    * errors sit at a few thousand ppm (`SketchSpec` pins the ceiling
    * and the estimator's laws). Cost: the histogram build (two passes,
    * q64) + ONE conditional-sum pass for all exact counts (the q60
    * chunked-agg trick: 6 sums, one stack unpivot) + a 6×8 literal
    * fold — nothing per-predicate ever rescans. */
  val q65 = Q("q65_selectivity_estimate", {
    val contrib = (t: String) =>
      s"""CASE WHEN lo_cents >= $t THEN n_rows
         |     WHEN hi_cents < $t THEN 0
         |     ELSE n_rows * (hi_cents - $t + 1) // (hi_cents - lo_cents + 1)
         |END""".stripMargin.replace("\n", " ")
    s"""WITH $eqdHistSql,
       |preds(t) AS (SELECT * FROM (VALUES ${SelThresholds.map(t => s"($t)").mkString(", ")})),
       |est AS (
       |  SELECT p.t, sum(${contrib("p.t")}) AS est_rows
       |  FROM hist CROSS JOIN preds p GROUP BY p.t),
       |exact AS (
       |  SELECT ${SelThresholds.zipWithIndex.map { case (t, i) =>
            s"sum(CASE WHEN cents >= $t THEN 1 ELSE 0 END) AS x$i" }
            .mkString(", ")}, count(*) AS total
       |  FROM c),
       |exl AS (
       |  ${SelThresholds.zipWithIndex.map { case (t, i) =>
            s"SELECT CAST($t AS BIGINT) AS t, x$i AS exact_rows, total FROM exact" }
            .mkString("\n  UNION ALL ")})
       |SELECT e.t AS threshold_cents,
       |  CAST(e.est_rows AS BIGINT) AS est_rows,
       |  CAST(x.exact_rows AS BIGINT) AS exact_rows,
       |  CAST(abs(e.est_rows - x.exact_rows) * 1000000 // x.total AS BIGINT)
       |    AS err_ppm
       |FROM est e JOIN exl x ON x.t = e.t
       |ORDER BY e.t""".stripMargin
  }) { (s, d) =>
    import s.implicits._
    val (c, hist0) = eqdHist(s, d)
    val hist = hist0.localCheckpoint() // 8 rows; folded once per threshold
    val preds = SelThresholds.toDF("t")
    val est = hist.crossJoin(broadcast(preds))
      .selectExpr("t",
        """CASE WHEN lo_cents >= t THEN n_rows
          |     WHEN hi_cents < t THEN 0
          |     ELSE n_rows * (hi_cents - t + 1) DIV (hi_cents - lo_cents + 1)
          |END AS contrib""".stripMargin.replace("\n", " "))
      .groupBy("t").agg(sum("contrib").as("est_rows"))
    val exactAggs = SelThresholds.zipWithIndex.map { case (t, i) =>
      sum(when(col("cents") >= t, 1L).otherwise(0L)).as(s"x$i")
    } :+ count(lit(1)).as("total")
    val exact = c.agg(exactAggs.head, exactAggs.tail: _*)
      .selectExpr("total",
        s"stack(${SelThresholds.size}, ${SelThresholds.zipWithIndex
          .map { case (t, i) => s"${t}L, x$i" }.mkString(", ")})" +
          " AS (t, exact_rows)")
    est.join(broadcast(exact), "t")
      .selectExpr("t AS threshold_cents",
        "CAST(est_rows AS BIGINT) AS est_rows",
        "CAST(exact_rows AS BIGINT) AS exact_rows",
        "CAST(abs(est_rows - exact_rows) * 1000000 DIV total AS BIGINT) AS err_ppm")
      .orderBy("threshold_cents")
  }

  def all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q10b, q10c, q11, q12, q13, q14, q15, q16, q17, q18, q19, q19b, q19c,
    q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30, q31, q32, q33,
    q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48,
    q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62,
    q63, q64, q65)
}
