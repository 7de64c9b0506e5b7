package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import graft.plans.{TopKPerGroup, TopKPerGroupStrategy}

/** DataFrame-level entry point for the custom top-k-per-group operator
  * ([[graft.plans.TopKPerGroup]]). Installs the planner strategy on the
  * session idempotently (`spark.experimental.extraStrategies` — the
  * runtime twin of registering `GraftExtensions` at session build time),
  * resolves the group/order columns against the input's analyzed plan,
  * and wraps the logical node back into a DataFrame.
  *
  * `order` columns must form a TOTAL order within each group (add
  * tie-break columns) — rows equal under the full order are
  * interchangeable, which is what makes the bounded-heap output
  * deterministic.
  */
object TopK {

  /** Install the strategy on `spark` if absent — checking the session's
    * FULL planner strategy list, not just `experimental.extraStrategies`:
    * a session built with GraftExtensions already carries the strategy
    * via `injectPlannerStrategy`, and appending a second copy would have
    * the planner generate duplicate candidate plans for every query.
    */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.sessionState.planner.strategies.contains(TopKPerGroupStrategy))
      cs.experimental.extraStrategies =
        cs.experimental.extraStrategies :+ TopKPerGroupStrategy
  }

  /** Install the [[graft.plans.TopKRewrite]] optimizer rule (plus the
    * strategy it plans through) on `spark` if absent — the runtime twin
    * of `GraftExtensions.injectOptimizerRule`. After this, the plain
    * window idiom `row_number() OVER (...) <= k` plans as the bounded-heap
    * operator automatically.
    */
  def ensureRewrite(spark: org.apache.spark.sql.SparkSession): Unit = {
    ensureStrategy(spark)
    graft.plans.ensureOptimizerRule(spark, graft.plans.TopKRewrite)
  }

  /** Top `k` rows per `groupCols` group under `order` (column name →
    * descending?), ties broken by the order's later columns.
    */
  def perGroup(df: DataFrame, groupCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    ensureStrategy(df.sparkSession)
    val analyzed = df.queryExecution.analyzed
    // resolve through the Dataset's own resolver (honors
    // spark.sql.caseSensitive and raises on ambiguous names) instead of a
    // case-sensitive first-match scan of the output attributes
    def attr(name: String) = GraftSqlBridge.expression(df.col(name)) match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a
      case other => throw new IllegalArgumentException(
        s"column $name did not resolve to an attribute: $other")
    }
    val g = groupCols.map(attr)
    val so = order.map { case (name, desc) =>
      SortOrder(attr(name), if (desc) Descending else Ascending)
    }
    GraftSqlBridge.ofRows(df.sparkSession, TopKPerGroup(g, so, k, analyzed))
  }
}
