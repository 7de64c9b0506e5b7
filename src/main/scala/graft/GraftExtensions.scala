package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProduct

/** Session-extension entry point for library users:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Registers the engine's native expressions: `dot_d`,
  * `poly_hash_arr`, and the `freq_items` Misra–Gries heavy-hitters
  * aggregate, plus the bloom-filter pair (`bloom_agg` /
  * `bloom_might_contain`) that [[graft.functions.Blooms]] exposes from
  * Spark's internals. Also injects the heap strategy and the two
  * optimizer rules `graft.Graft.install` adds at runtime: `TopKRewrite`
  * and `SmallSortRewrite`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: per-group top-k via partial/final bounded
    // heaps (graft.plans.TopKPerGroup) — build-time twin of the runtime
    // install graft.operators.TopK.ensureStrategy performs
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // auto-rewrite of the window-rank top-k idiom into the bounded-heap
    // operator (strictly gated — see TopKRewrite scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // a global sort over a small input sorts in one task (coalesce(1)):
    // no range-sample job, no range shuffle — see SmallSortRewrite
    ext.injectOptimizerRule(_ => graft.plans.SmallSortRewrite)
    // builders shared with DotProduct.register / PolyHashArr.register —
    // one arity-validation implementation for both registration paths
    ext.injectFunction((
      FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_d"),
      DotProduct.builder))
    ext.injectFunction((
      FunctionIdentifier("poly_hash_arr"),
      new ExpressionInfo(
        classOf[graft.functions.PolyHashArr].getName, "poly_hash_arr"),
      graft.functions.PolyHashArr.builder))
    // mergeable Misra–Gries heavy-hitters sketch (TypedImperativeAggregate)
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(
        classOf[graft.functions.MisraGries].getName, "freq_items"),
      graft.functions.MisraGries.builder))
    // the builders are SHARED with Blooms.register — one arity/sizing
    // implementation for both registration paths
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      graft.functions.Blooms.aggBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      graft.functions.Blooms.mightContainBuilder))
  }
}
