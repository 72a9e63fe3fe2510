package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Cosine similarity between two FLOAT vectors as a native Catalyst
  * expression with whole-stage codegen (`doGenCode`) — the hot inner loop
  * of brute-force ANN compiles into the generated stage instead of
  * crossing a UDF boundary per row. Accumulation is a strictly ascending
  * index-order fold in double precision, matching the oracle SQL's
  * `list_sum(list_transform(...))` form bit-for-bit.
  *
  * Preference ladder (SURVEY.md §7.3): built-ins
  * (`aggregate(zip_with(...))`) express this too, but as an O(dims)
  * lambda-expression chain per row; a dedicated expression is the
  * idiomatic "custom scalar op Spark lacks" escalation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[CosineSimilarity]] over DOUBLE vectors — the Lloyd-iteration
  * variant (s06): iterated k-means centroids are exact double means,
  * and narrowing them to float would diverge from the DuckDB oracle
  * (float rounding differs cross-engine — see s05's decimal note), so
  * corpus vectors are widened float→double (exact) and both sides
  * share the double element type. Same ascending-index double fold,
  * same codegen shape. */
case class CosineSimilarityD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The engine's SQL function surface, declared once: the expressions are
  * reachable from SQL (`expr("cosine_sim(a, b)")`) without Spark's
  * non-public Column constructors. [[graft.plans.GraftExtensions]]
  * injects [[table]] into every `GraftSession.configure` session;
  * [[register]] installs it on a session built elsewhere. */
object GraftFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[graft] def entry(cls: Class[_], name: String)(
      builder: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  private[graft] val table: Seq[Entry] = Seq(
    entry(classOf[CosineSimilarity], "cosine_sim")(
      e => CosineSimilarity(e(0), e(1))),
    entry(classOf[CosineSimilarityD], "cosine_sim_d")(
      e => CosineSimilarityD(e(0), e(1))),
    entry(classOf[DotProduct], "dot_product")(e => DotProduct(e(0), e(1))),
    entry(classOf[SimHash64], "simhash64")(
      e => SimHash64(e.head, md5Mode = simhashMd5Arg(e))),
    entry(classOf[WordShingles], "word_shingles")(
      e => WordShingles(e(0), intArg(e(1)))),
    entry(classOf[BoundedEditDistance], "bounded_edit_distance")(
      e => BoundedEditDistance(e(0), e(1), intArg(e(2)))),
    entry(classOf[NGramExplode], "ngram_explode")(
      e => NGramExplode(e(0), intArg(e(1)))),
    entry(classOf[KmvSketchAgg], "kmv_sketch")(
      e => KmvSketchAgg(e(0), intArg(e(1)))))

  /** Installs the [[table]] entries `spark`'s session lacks. */
  def register(spark: SparkSession): Unit = registerMissing(spark, table)

  /** Installs each entry `spark`'s session lacks: re-registering a name
    * replaces its entry and logs a WARN on every call. */
  private[graft] def registerMissing(
      spark: SparkSession, entries: Seq[Entry]): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Optional 2nd arg of `simhash64`: a literal hash-family name —
    * 'md5' (oracle-recomputable) or 'fnv' (production default). */
  private[graft] def simhashMd5Arg(exprs: Seq[Expression]): Boolean =
    if (exprs.length < 2) false
    else exprs(1).eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String
          if s.toString == "md5" => true
      case s: org.apache.spark.unsafe.types.UTF8String
          if s.toString == "fnv" => false
      case other => throw new IllegalArgumentException(
        s"simhash64 mode must be 'md5' or 'fnv', got: $other")
    }
}
