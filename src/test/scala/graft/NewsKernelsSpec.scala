package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.NewsPipeline

/** `NewsPipeline.classify` / `summarize` run on the one-pass kernels
  * (`keyword_classify`, `head_summary`). Their SQL definitions — the
  * built-in formulations the kernels replaced — live on here as the
  * reference: per-keyword `length`/`replace` scores let-bound in a
  * `transform`/`aggregate` lambda, and `split`/`slice`/`array_join` under
  * the `min(100, max(20, words/3))` budget. Both engines' outputs must be
  * equal as multisets (`exceptAll` empty both ways), under generated code
  * (`CODEGEN_ONLY`, whole-stage on) and interpreted `eval`
  * (`NO_CODEGEN`, whole-stage off). */
class NewsKernelsSpec extends SparkSpec {
  import spark.implicits._

  private def refClassify(df: DataFrame, textCol: String): DataFrame = {
    val t = s"coalesce($textCol, '')"
    val hit = (kw: String) =>
      s"CAST((length($t) - length(replace($t, '$kw', ''))) / ${kw.length} AS BIGINT)"
    val scores = NewsPipeline.lexicon
      .map { case (_, kws) => kws.map(hit).mkString(" + ") }
      .mkString("array(", ", ", ")")
    val cats = NewsPipeline.lexicon.map(c => s"'${c._1}'").mkString("array(", ", ", ")")
    val clsExpr =
      s"""element_at(transform(array($scores), sc -> named_struct(
         |  'category', IF(array_max(sc) = 0L, 'unknown',
         |    element_at($cats, CAST(array_position(sc, array_max(sc)) AS INT))),
         |  'confidence', IF(array_max(sc) = 0L, CAST(0.0 AS DOUBLE),
         |    CAST(array_max(sc) AS DOUBLE) /
         |    CAST(aggregate(sc, 0L, (a, x) -> a + x) AS DOUBLE)))), 1)""".stripMargin
    df.withColumn("__cls", expr(clsExpr))
      .withColumn("category", col("__cls.category"))
      .withColumn("confidence", col("__cls.confidence"))
      .drop("__cls")
  }

  private def refSummarize(df: DataFrame, textCol: String): DataFrame = {
    val words = split(substring(coalesce(col(textCol), lit("")), 1, 5000), " ")
    val b: Column =
      least(lit(100), greatest(lit(20), (size(words) / 3).cast("int"))).cast("int")
    df.withColumn("summary", array_join(slice(words, lit(1), b), " "))
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("budget", b.cast("long"))
  }

  /** Edge texts: empty and null text, space runs at either end and in the
    * middle, multibyte characters (also straddling the 5000-char cut),
    * self-overlapping keywords, texts shorter than the 20-word floor and
    * longer than the 5000-char truncation. */
  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "   ", " leading space", "trailing space ",
    "double  space  between", "  both ends  ",
    "rowrow", "windowindow", "rrowow", "rowindow", "sparkspark query",
    // overlapping matches must not count: arts 1 vs sports 2, not a 2:2 tie
    "windowindow fast fast", "windowindowindow query spark spark",
    "window fast", "spark spark row row", "zzz yyy xxx",
    "spärk ストリーム stream — window 🚀 row", "naïve merge join\tfilter\nscan",
    "spark fast",
    Seq.fill(19)("w").mkString(" "), Seq.fill(20)("w").mkString(" "),
    Seq.fill(60)("join").mkString(" "), Seq.fill(301)("order").mkString(" "),
    "a" * 4999 + " bbbb cccc",
    "é" * 4998 + " ab cd",
    "🚀" * 4999 + " stream",
    Seq.fill(3000)("ab").mkString(" "),
    Seq.fill(1200)("naïve slow").mkString("  "),
    Seq.fill(900)("query").mkString(" ") + " " + "x" * 2000)

  /** The test corpus plus [[edgeTexts]], from an RDD so no local-relation
    * folding evaluates the projection in the optimizer. */
  private def corpus(): DataFrame = {
    val edges = spark.sparkContext
      .parallelize(edgeTexts.zipWithIndex.map { case (t, i) => (-1L - i, t) }, 2)
      .toDF("doc_id", "text")
    Tables.documents(spark, sf).select("doc_id", "text").unionByName(edges)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    assert(got.exceptAll(want).isEmpty, s"$what: kernel rows missing from reference")
    assert(want.exceptAll(got).isEmpty, s"$what: reference rows missing from kernel")
  }

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
    test(s"keyword_classify equals the length/replace lambda scoring ($mode)") {
      withConfs(confs: _*) {
        val got = NewsPipeline.classify(corpus())
        assertSameRows(got, refClassify(corpus(), "text"), s"classify $mode")
        // the mode took effect: the kernel sits in a codegen span or none
        got.collect()
        val plan = got.queryExecution.executedPlan.toString
        assert(plan.contains("keyword_classify("), plan)
        assert(raw"\*\(\d+\)".r.findFirstIn(plan).nonEmpty == (mode == "CODEGEN_ONLY"),
          plan)
      }
    }

    test(s"head_summary equals split/slice/array_join under the budget ($mode)") {
      withConfs(confs: _*) {
        assertSameRows(NewsPipeline.summarize(corpus()),
          refSummarize(corpus(), "text"), s"summarize $mode")
      }
    }
  }

  test("classify registers the kernels on its session; they resolve in SQL") {
    NewsPipeline.classify(Seq("spark").toDF("text"))
    val registry = spark.sessionState.functionRegistry
    assert(registry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("keyword_classify")))
    val row = spark.sql(
      "SELECT keyword_classify('spark fast fast').category AS c, " +
        "head_summary('a b c').n_words AS n").head()
    assert(row.getString(0) == "sports")
    assert(row.getLong(1) == 3L)
  }

  test("GraftExtensions injects both kernels session-wide") {
    withExtensionSession { ext =>
      val row = ext.sql(
        "SELECT keyword_classify('window').category, head_summary(NULL).budget").head()
      assert(row.getString(0) == "arts")
      assert(row.getLong(1) == 20L)
    }
  }
}
