package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{DotProduct, GraftFunctions}

/** Engine registration via `SparkSessionExtensions` (the custom planner
  * seam of SURVEY.md §4/§7.3 — the only one this engine needs):
  *
  *  - `injectFunction`: the engine's whole SQL function surface —
  *    [[GraftFunctions.table]] and the news pipeline's
  *    `keyword_classify` / `head_summary` kernels
  *    (`NewsPipeline.kernelFunctions`) — becomes session functions with
  *    no per-query registry calls;
  *  - `injectOptimizerRule`: [[RewriteDotProducts]] — auto-vectorisation
  *    of the built-in higher-order-function dot-product idiom into the
  *    codegen'd [[graft.functions.DotProduct]] loop — and
  *    [[RewriteTopKPerKey]], which with `injectPlannerStrategy`
  *    ([[TopKPerKeyStrategy]]) turns the dropped-rank `row_number() <= k`
  *    window idiom into the sort-free bounded-heap [[TopKPerKeyExec]].
  *
  * Usage: `--conf spark.sql.extensions=graft.plans.GraftExtensions`, which
  * [[graft.GraftSession.configure]] sets on every session it builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    (GraftFunctions.table ++ graft.ops.NewsPipeline.kernelFunctions)
      .foreach(e.injectFunction)
    e.injectOptimizerRule(_ => RewriteDotProducts)
    e.injectOptimizerRule(_ => RewriteTopKPerKey)
    e.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

/** Rewrites
  * `aggregate(zip_with(a, b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS
  * DOUBLE)), 0.0D, (acc, v) -> acc + v)` over FLOAT arrays into
  * [[DotProduct]](a, b): one fused codegen loop, no intermediate zipped
  * array, bit-identical values (same ascending fold in double).
  * Users keep writing the portable built-in idiom; plans get the fast
  * expression — measured ~25× on the d04 pairwise workload. Pruned to
  * plans that contain a higher-order function. */
object RewriteDotProducts extends Rule[LogicalPlan] {

  /** Safe for any element nullability: [[DotProduct]] propagates null
    * exactly like the built-in idiom (NULL on length mismatch — zip_with
    * pads with null — or on any null element), so the rewrite preserves
    * semantics even for containsNull=true arrays, which is what parquet
    * list columns read as. */
  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def isDoubleCastOf(e: Expression, v: NamedLambdaVariable): Boolean =
    e match {
      case c: Cast => c.dataType == DoubleType && (c.child match {
        case u: NamedLambdaVariable => u.exprId == v.exprId
        case _ => false
      })
      case _ => false
    }

  /** (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE), any arg order. */
  private def isCastMultiply(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Multiply(l, r, _), Seq(p: NamedLambdaVariable,
        q: NamedLambdaVariable), _) =>
      (isDoubleCastOf(l, p) && isDoubleCastOf(r, q)) ||
        (isDoubleCastOf(l, q) && isDoubleCastOf(r, p))
    case _ => false
  }

  /** (acc, v) -> acc + v, either order. */
  private def isSumMerge(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(l, r, _), Seq(a: NamedLambdaVariable,
        v: NamedLambdaVariable), _) =>
      Set(l, r).collect { case u: NamedLambdaVariable => u.exprId } ==
        Set(a.exprId, v.exprId)
    case _ => false
  }

  /** acc -> acc (ArrayAggregate's identity finish lambda). */
  private def isIdentityFinish(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable,
        Seq(a: NamedLambdaVariable), _) => body.exprId == a.exprId
    case _ => false
  }

  private def isZeroLiteral(e: Expression): Boolean = e match {
    case Literal(0.0, DoubleType) => true
    case c: Cast => c.dataType == DoubleType && isZeroLiteral(c.child)
    case Literal(v, _) => v == 0 || v == 0.0
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
        _.containsPattern(HIGH_ORDER_FUNCTION)) {
      case ArrayAggregate(
          ZipWith(a, b, zipFn: LambdaFunction),
          zero, mergeFn: LambdaFunction, finishFn: LambdaFunction)
          if isFloatArray(a) && isFloatArray(b) && isZeroLiteral(zero) &&
            isCastMultiply(zipFn) && isSumMerge(mergeFn) &&
            isIdentityFinish(finishFn) =>
        DotProduct(a, b)
    }
}
