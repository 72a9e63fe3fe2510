package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Native top-k-per-key: the whole-operator Catalyst extension tier
  * (custom `LogicalPlan` + `Rule` + `SparkStrategy` + `SparkPlan`) for
  * the single most common window idiom in analytics code,
  *
  * {{{ row_number().over(Window.partitionBy(p).orderBy(o)) <= k }}}
  *
  * with the rank column filtered and then DROPPED. Spark executes that
  * as shuffle → full per-partition SORT → Window rank projection →
  * filter (3.5+ inserts `WindowGroupLimitExec` so each side of the
  * shuffle retains only k rows per key, but the sort and the rank
  * projection remain — group-limit is implemented as a pass over SORTED
  * rows). When the rank values themselves are discarded, none of that
  * machinery is needed: a bounded heap per key holds the best k rows
  * seen so far, O(n log k) comparisons with NO sort buffer, no spill
  * pressure, no rank column.
  *
  * Two-phase execution mirrors partial aggregation: a `partial = true`
  * instance runs before the exchange (each map partition emits ≤ k rows
  * per key — at 100 TB this is what caps the shuffle: the wire carries
  * min(n, k·keys·partitions) rows, same contract as map-side combine),
  * then `EnsureRequirements` inserts the hash exchange demanded by the
  * final instance's `ClusteredDistribution`, which reduces the ≤
  * k·partitions candidates per key to exactly k. Memory is bounded by
  * k · (distinct keys per partition) retained rows — strictly less than
  * the sort-based plan's whole-partition buffer.
  *
  * Semantics: identical to the `row_number` idiom whenever the ordering
  * is total (the deterministic case — same caveat the built-in has
  * under ties). The rewrite only fires when (a) the window has exactly
  * one expression and it is `row_number()`, (b) the filter is a
  * constant rank bound, (c) the rank column is not referenced above the
  * filter, and (d) partition/order expressions are deterministic —
  * anything else keeps Spark's plan. Activation: [[GraftExtensions]],
  * which `graft.GraftSession.configure` installs in every session;
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteTopKPerKey`
  * turns the rewrite off for one session (the specs' window twin).
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Rewrites `Project(out, Filter(rn <= k, Window(row_number as rn, p, o)))`
  * — `rn` absent from `out` — into `Project(out, TopKPerKey(p, o, k))`.
  * Tolerates a `WindowGroupLimit` node below the Window, which
  * `InferWindowGroupLimit` inserts if it ran first: the heap operator
  * subsumes it. Pruned to plans that contain a Window. */
object RewriteTopKPerKey extends Rule[LogicalPlan] {

  /** The rank bound ⇒ top-k count, for the comparison shapes the filter
    * can take (`rn <= k`, `rn < k`, `rn = 1`, and mirrored). */
  private def rankBound(cond: Expression, rn: Attribute): Option[Int] = {
    def asInt(l: Literal): Option[Int] = l.value match {
      case i: java.lang.Integer => Some(i.intValue())
      case i: java.lang.Long if i.longValue() <= Int.MaxValue =>
        Some(i.intValue())
      case _ => None
    }
    cond match {
      case LessThanOrEqual(a: Attribute, l: Literal) if a.semanticEquals(rn) =>
        asInt(l)
      case LessThan(a: Attribute, l: Literal) if a.semanticEquals(rn) =>
        asInt(l).map(_ - 1)
      case GreaterThanOrEqual(l: Literal, a: Attribute) if a.semanticEquals(rn) =>
        asInt(l)
      case GreaterThan(l: Literal, a: Attribute) if a.semanticEquals(rn) =>
        asInt(l).map(_ - 1)
      case EqualTo(a: Attribute, l: Literal) if a.semanticEquals(rn) =>
        asInt(l).filter(_ == 1)
      case EqualTo(l: Literal, a: Attribute) if a.semanticEquals(rn) =>
        asInt(l).filter(_ == 1)
      case _ => None
    }
  }

  /** Window child with any `InferWindowGroupLimit` insertion stripped —
    * the heap exec replaces what that node pre-filters. */
  private def unlimited(plan: LogicalPlan): LogicalPlan = plan match {
    case WindowGroupLimit(_, _, _, _, inner) => inner
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(WINDOW)) {
      case p @ Project(projectList,
          Filter(cond, Window(Seq(al @ Alias(
            WindowExpression(_: RowNumber, _), _)), partitionSpec, orderSpec,
            wchild, _)))
          if partitionSpec.nonEmpty && orderSpec.nonEmpty &&
            partitionSpec.forall(_.deterministic) &&
            orderSpec.forall(_.deterministic) &&
            !projectList.exists(_.references.contains(al.toAttribute)) =>
        rankBound(cond, al.toAttribute) match {
          case Some(k) if k >= 1 =>
            p.copy(child = TopKPerKey(partitionSpec, orderSpec, k,
              unlimited(wchild)))
          case _ => p
        }
    }
}

/** Plans [[TopKPerKey]] as final-over-partial [[TopKPerKeyExec]]; the
  * exchange between them is owned by `EnsureRequirements` (so AQE can
  * coalesce/replan it like any other shuffle). */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per key over unsorted input.
  *
  * Per partition: a hash map key → size-k priority queue ordered
  * worst-kept-first, so admission is one `compare` against the heap head
  * and rows are only copied when admitted (losing candidates cost zero
  * allocation). Emission sorts each key's ≤ k retained rows — k log k
  * per key, never a partition-wide sort.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // head = the WORST retained row: admission compares against it once
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, worstFirst)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < limit) {
          heap.add(row.copy())
        } else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap { h =>
        val rows = h.toArray(new Array[InternalRow](h.size))
        java.util.Arrays.sort(rows, ord)
        rows.iterator
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
