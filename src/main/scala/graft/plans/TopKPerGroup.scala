package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BaseOrdering, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension demo per the build rules' preference (c): a
  * custom `LogicalPlan` node + `SparkStrategy` + physical `SparkPlan`,
  * usable via `SparkSessionExtensions` (GraftExtensions) or
  * `spark.experimental.extraStrategies`.
  *
  * Semantics: per-group top-k under a TOTAL sort order (caller supplies
  * tie-breaking columns; rows equal under the full order are
  * interchangeable, so the output multiset is deterministic).
  *
  * Why a custom operator: Spark expresses top-k-per-group as
  * `row_number() OVER (PARTITION BY g ORDER BY o) <= k`; historically
  * that physical plan shuffled EVERY row of the input to the group's
  * reducer and sorted each partition before discarding all but k rows
  * per group. The aggregate-style shape here — a map-side partial
  * bounded heap (at most k rows per (partition, group) survive), an
  * exchange that therefore carries ≤ k·|partitions| rows per group
  * instead of all of them, and a final merge heap — is exactly what
  * partial aggregation does for sums and is the shape that survives a
  * 100 TB fact table with a hot group. Heaps never exceed k entries per
  * group per task, so memory is O(k·groups-per-task), independent of
  * input size.
  *
  * Status on THIS Spark (4.x): the stock optimizer's `WindowGroupLimit`
  * rank-limit pushdown now produces the same map-side bound for the
  * row_number form; in both measurements below the two plans shuffle the
  * same record count (= input partitions × groups × k) and give
  * exceptAll-verified identical output. Which one is faster depends on
  * the configuration (tools/topkbench.scala, 50M rows / 100k groups /
  * k=3, median of three runs each):
  *
  *   - local[32], 32 shuffle partitions, 24 GB driver (BASELINE r18):
  *     9.6M records each; the codegen'd stock plan 2.75 s, this
  *     RDD-based exec 3.75 s (window ~1.4× faster).
  *   - local[4], 16 shuffle partitions, 4 GB driver (commit `cd9c3dc`):
  *     1.2M records each; window 30.1 s, this exec 16.5 s (this exec
  *     ~1.8× faster).
  *
  * The operator (and the TopKRewrite rule) stays as the extension-path
  * exemplar and the fallback for engines/shapes without the pushdown;
  * production keys use the window form.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Physical node: `partial = true` runs map-side with no distribution
  * requirement; `partial = false` requires clustering on the group keys
  * (EnsureRequirements inserts the hash exchange) and merges the partial
  * heaps. Both phases run the identical bounded-heap kernel — merging
  * partial top-k lists under the same total order is associative, the
  * same argument that makes partial sums correct.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = order
    val childOutput = child.output
    val kk = k
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupE, childOutput)
      // PriorityQueue dequeues the LARGEST under this ordering = the
      // WORST kept row under the ascending sort — classic bounded top-k
      val ord: BaseOrdering = RowOrdering.create(orderE, childOutput)
      implicit val rowOrd: Ordering[InternalRow] =
        (a: InternalRow, b: InternalRow) => ord.compare(a, b)
      val heaps = scala.collection.mutable.HashMap
        .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
      it.foreach { row =>
        val probe = keyProj(row) // REUSED buffer — copy only on first insert
        heaps.get(probe) match {
          case Some(h) =>
            if (h.size < kk) h += row.copy()
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h += row.copy() }
          case None =>
            val h = scala.collection.mutable.PriorityQueue.empty[InternalRow]
            h += row.copy()
            heaps.put(probe.copy(), h)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }, preservesPartitioning = true)
  }
}

/** Planner strategy: partial heap → (exchange via the final node's
  * required distribution) → final heap.
  */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      val partial = TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}
