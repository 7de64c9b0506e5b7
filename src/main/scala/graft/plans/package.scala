package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

package object plans {

  /** Append `rule` to `spark`'s `experimental.extraOptimizations` unless
    * the session's optimizer already runs it: as one of those, or injected
    * at session build time through `injectOptimizerRule`
    * ([[graft.GraftExtensions]]), which lands in the optimizer's
    * `extendedOperatorOptimizationRules`. One copy per session, whichever
    * path came first.
    */
  private[graft] def ensureOptimizerRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val exp = cs.experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(rule) &&
          !cs.sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }
}
