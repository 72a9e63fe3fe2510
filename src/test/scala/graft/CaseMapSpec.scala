package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.functions.BinaryCaseMap
import graft.plans.RewriteCaseMappings

/** [[RewriteCaseMappings]] runs `upper`/`lower` as [[BinaryCaseMap]]:
  * byte-identical to the built-in (the rule excluded) under generated
  * code and interpreted evaluation, on ASCII, the one-to-many and
  * context-sensitive mappings, invalid UTF-8, '' and null; the plan text
  * is unchanged; and the rule leaves the non-ICU mapping and other
  * collations to the built-in. */
class CaseMapSpec extends SparkSpec {

  private val inputs: Seq[Array[Byte]] = Seq(
    "Hello, World 42", "straße", "İstanbul", "ΟΔΟΣ ΣΑΣ", "ﬁ ǅ ŉ",
    "naïve ストリーム 🚀",
    // case pairs added in Unicode 14, after the JDK's tables: ICU maps them
    "\u2C2F \u2C5F \uA7C0 \uA7C1", "").map(_.getBytes("UTF-8")) ++ Seq(
    Array[Byte](-1), Array[Byte](0x61, -61, 0x28, 0x62),
    Array[Byte](0x41, -128, -2, 0x7a), Array[Byte](0x78, -16, -97, -104), null)

  /** `s` from raw bytes through an RDD, so no local-relation folding
    * evaluates the projection in the optimizer. */
  private def strings(): DataFrame = {
    val rows = inputs.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("id", org.apache.spark.sql.types.LongType), StructField("b", BinaryType))))
      .selectExpr("id", "CAST(b AS STRING) AS s")
  }

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"$b%02X").mkString

  private def mapped(df: DataFrame): DataFrame =
    df.selectExpr("id", "hex(CAST(upper(s) AS BINARY)) AS u",
      "hex(CAST(lower(s) AS BINARY)) AS l", "upper(s) IS NULL AS n")

  private def caseMaps(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.expressions
      .map(_.collect { case c: BinaryCaseMap => c }.size).sum

  private def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  for ((mode, confs) <- modes) {
    test(s"BinaryCaseMap equals the built-in upper/lower byte for byte ($mode)") {
      withConfs(confs: _*) {
        val df = mapped(strings())
        assert(caseMaps(df) == 3)
        val got = df.collect().sortBy(_.getLong(0)).toSeq
        val (want, builtin) = withExcludedRules(RewriteCaseMappings) {
          val b = mapped(strings())
          (b.collect().sortBy(_.getLong(0)).toSeq, caseMaps(b))
        }
        assert(builtin == 0)
        assert(got == want)
        assert(got.size == inputs.size)
        // the ICU full mappings, not the per-code-point ones
        assert(got(1).getString(1) == hex("STRASSE"))
        assert(got(6).getString(2) == hex("\u2C5F \u2C5F \uA7C1 \uA7C1"))
        assert(got.last.getBoolean(3))
        val plan = df.queryExecution.executedPlan.toString
        assert(raw"\*\(\d+\)".r.findFirstIn(plan).nonEmpty == (mode == "CODEGEN_ONLY"),
          plan)
      }
    }
  }

  test("the rewrite leaves the plan text unchanged") {
    def text = Profile.stable(mapped(strings()).queryExecution.optimizedPlan.toString)
    assert(text == withExcludedRules(RewriteCaseMappings)(text))
  }

  test("the rule does not fire with ICU case mappings off") {
    withConfs("spark.sql.icu.caseMappings.enabled" -> "false") {
      val df = mapped(strings())
      assert(caseMaps(df) == 0)
      assert(df.collect().sortBy(_.getLong(0)).head.getString(1) ==
        hex("HELLO, WORLD 42"))
    }
  }

  test("the rule does not fire on a UTF8_LCASE child") {
    val df = strings().selectExpr("id", "upper(collate(s, 'UTF8_LCASE')) AS u",
      "lower(collate(s, 'UTF8_LCASE')) AS l")
    assert(caseMaps(df) == 0)
    assert(df.collect().length == inputs.size)
  }
}
