package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule completing the Catalyst extension set (Expression →
  * LogicalPlan/Strategy → Rule): rewrites the SQL idiom for per-group
  * top-k,
  *
  * {{{ Filter(rn <= k)( Window(row_number() OVER (PARTITION BY g ORDER BY o) AS rn) ) }}}
  *
  * into the native bounded-heap operator,
  *
  * {{{ Window(rn)( TopKPerGroup(g, o, k) ) }}}
  *
  * so the exchange carries at most k rows per (map partition, group)
  * instead of EVERY row — the difference between a window that dies on a
  * 100 TB hot group and one that behaves like a partial aggregation. The
  * rank column is recomputed by the same window AFTER the heaps, over at
  * most k rows per group; the final heap's output partitioning already
  * clusters on the group keys, so that window adds a per-partition sort
  * but NO new exchange. Output schema, attribute ids and rank values are
  * identical to the un-rewritten plan.
  *
  * Eligibility is deliberately strict (anything else passes through
  * untouched):
  *   - the Window node computes EXACTLY ONE expression: `row_number()`
  *     with a nonempty partition spec and a nonempty, deterministic
  *     order spec;
  *   - the filter condition constrains ONLY the rank attribute, by a
  *     positive integer literal: `rn <= k`, `rn < k`, `rn = 1`, or the
  *     mirrored literal-first forms.
  *
  * Ties: rows equal under the full sort order are interchangeable in
  * BOTH plans (row_number's tie choice is already nondeterministic), so
  * the rewrite preserves SQL semantics; supply tie-breaking columns for
  * a deterministic result — same contract as the window idiom itself.
  *
  * Relation to stock Spark: 3.5+ already inserts `WindowGroupLimit`
  * (a per-partition group-limit pass) below such filters, which bounds
  * the exchange like our partial heap does — but it keeps the full
  * per-partition SORT + `WindowExec` machinery on both sides of the
  * shuffle. The heap operator replaces sort-everything-keep-k with an
  * O(n log k) bounded heap and leaves only the trivial ≤k-rows-per-group
  * sort for the rank recomputation.
  *
  * The rule only lives in sessions that opt into
  * [[graft.GraftExtensions]] or `TopK.ensureRewrite`; a session that
  * removes it from `experimental.extraOptimizations` plans the idiom as
  * stock Spark does.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def limitFrom(cond: Expression, rn: Attribute): Option[Int] = {
    def isRn(e: Expression): Boolean = e match {
      case a: Attribute => a.semanticEquals(rn)
      case _ => false
    }
    cond match {
      case LessThanOrEqual(a, Literal(k: Int, IntegerType)) if isRn(a) => Some(k)
      case LessThan(a, Literal(k: Int, IntegerType)) if isRn(a) => Some(k - 1)
      case EqualTo(a, Literal(k: Int, IntegerType)) if isRn(a) && k == 1 => Some(1)
      case EqualTo(Literal(k: Int, IntegerType), a) if isRn(a) && k == 1 => Some(1)
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a) if isRn(a) => Some(k)
      case GreaterThan(Literal(k: Int, IntegerType), a) if isRn(a) => Some(k - 1)
      case _ => None
    }
  }

  /** The eligible-Window rewrite, or None to leave the plan untouched. */
  private def rewritten(cond: Expression, w: Window): Option[Window] =
    w.windowExpressions match {
      case Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _))
          if w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty &&
            w.orderSpec.forall(_.deterministic) &&
            w.partitionSpec.forall(_.deterministic) =>
        limitFrom(cond, alias.toAttribute) match {
          case Some(k) if k > 0 =>
            // same window expression (same exprId) over the reduced
            // child: schema and attribute ids survive the rewrite
            Some(Window(Seq(alias), w.partitionSpec, w.orderSpec,
              TopKPerGroup(w.partitionSpec, w.orderSpec, k, w.child)))
          case _ => None
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rewritten(cond, w).getOrElse(f)
      // DataFrame `.withColumn(rn).filter(...)` leaves a pass-through
      // Project between Filter and Window until late batches; an
      // attribute-only projection is transparent to the rewrite
      case f @ Filter(cond, p @ Project(projList, w: Window))
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        rewritten(cond, w)
          .map(nw => Project(projList, nw))
          .getOrElse(f)
    }
}
