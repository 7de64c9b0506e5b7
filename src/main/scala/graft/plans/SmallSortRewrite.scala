package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{GENERATE, SORT}

/** Optimizer rule: a global ORDER BY over an input Catalyst sizes as
  * small sorts in one task,
  *
  * {{{ Sort(order, global = true, child) }}}
  *
  * becomes
  *
  * {{{ Sort(order, global = true, Repartition(1, shuffle = false, child)) }}}
  *
  * `SinglePartition` satisfies the sort's `OrderedDistribution`, so
  * EnsureRequirements plans no `Exchange rangepartitioning` above the
  * coalesce: no `RangePartitioner` sample job (which recomputes the whole
  * stage below the sort) and no range map stage, each with its own AQE
  * re-plan gap. The result is the same rows in the same order. The
  * coalesce narrows the whole stage right below the sort, up to the
  * nearest exchange, and the bound sizes only the sort's input, not that
  * stage's work: windows that feed a small aggregate in the same stage
  * (outlier_mad's) run in one task too.
  *
  * The rule fires only when
  *   - `child.stats.sizeInBytes <= spark.sql.autoBroadcastJoinThreshold`:
  *     the session's existing "small enough for one task" bound (a
  *     negative bound disables the rule). Spark sizes a join as the
  *     product of its inputs, so a join-fed sort stays a parallel range
  *     sort;
  *   - the child is deterministic;
  *   - the child holds no `Generate`: Spark's estimate does not grow
  *     across an explode, so the bound says nothing about its output;
  *   - the child is not streaming;
  *   - the child does not already run in one task (a `Repartition(1, …)`,
  *     possibly under projections and filters), which keeps the rule
  *     idempotent in a fixed-point batch.
  *
  * Installed, check-then-add ([[ensure]]), by every fixture read
  * (`graft.Tables.table`), by `graft.Graft.install`, and at session build
  * time by [[graft.GraftExtensions]].
  */
object SmallSortRewrite extends Rule[LogicalPlan] {

  private def singleTask(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case Project(_, c) => singleTask(c)
    case Filter(_, c) => singleTask(c)
    case _ => false
  }

  private def small(child: LogicalPlan, bound: Long): Boolean =
    !child.isStreaming && !singleTask(child) && child.deterministic &&
      !child.containsPattern(GENERATE) && child.stats.sizeInBytes <= bound

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val bound = conf.autoBroadcastJoinThreshold
    if (bound < 0) plan
    else plan.transformUpWithPruning(_.containsPattern(SORT)) {
      case s @ Sort(_, true, child, _) if small(child, bound) =>
        s.copy(child = Repartition(1, shuffle = false, child))
    }
  }

  /** Add the rule to `spark` unless its optimizer already runs it. */
  def ensure(spark: SparkSession): Unit = ensureOptimizerRule(spark, this)
}
