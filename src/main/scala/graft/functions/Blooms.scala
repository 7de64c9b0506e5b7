package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL registration for Spark's internal bloom-filter expressions
  * (`org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate`
  * and `BloomFilterMightContain` — the same pair Catalyst's runtime
  * row-level filtering injects, Spark SQLConf
  * `spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`). Spark does not
  * expose them in the public function registry, so the engine registers
  * them per-session, exactly like [[DotProduct.register]]:
  *
  *   - `bloom_agg(keyCol)` / `bloom_agg(keyCol, estimatedItems)` —
  *     aggregates a BIGINT key column into a serialized bloom filter
  *     (BINARY). Partial aggregation merges sketches map-side, so building
  *     the filter over an N-row dimension shuffles only one sketch per
  *     partition, never the keys.
  *   - `bloom_might_contain(bloomBinary, key)` — membership probe; the
  *     bloom side must be a constant or an uncorrelated scalar subquery
  *     (Spark's own analysis rule enforces this), which is what makes the
  *     probe evaluable at the SCAN, before any join shuffle.
  */
object Blooms {

  /** The ONE arity-handling builder both registration paths (this
    * per-session registry and `GraftExtensions.injectFunction`) share —
    * a drifted copy would give SQL-extension sessions silently different
    * bloom sizing than runtime-registered ones.
    */
  val aggBuilder: Seq[Expression] => Expression = {
    case Seq(child) => new BloomFilterAggregate(child)
    case Seq(child, est0) =>
      // BloomFilterAggregate requires a foldable LongType estimate; a SQL
      // INT literal (`bloom_agg(k, 1000000)`) would otherwise fail
      // analysis instead of being coerced — inject the cast the way
      // Spark's own runtime-filter rule does
      val est = org.apache.spark.sql.catalyst.expressions.Cast(
        est0, org.apache.spark.sql.types.LongType)
      new BloomFilterAggregate(child, est,
        new org.apache.spark.sql.catalyst.expressions.Multiply(
          est, org.apache.spark.sql.catalyst.expressions.Literal(8L)))
    case other => throw new IllegalArgumentException(
      s"bloom_agg expects 1 or 2 arguments, got ${other.size}")
  }

  val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
    case other => throw new IllegalArgumentException(
      s"bloom_might_contain expects 2 arguments, got ${other.size}")
  }

  /** Idempotent per-session SQL registration of both functions. */
  def register(spark: SparkSession): Unit = {
    FunctionRegistration.ensure(spark, "bloom_agg",
      classOf[BloomFilterAggregate].getName, aggBuilder)
    FunctionRegistration.ensure(spark, "bloom_might_contain",
      classOf[BloomFilterMightContain].getName, mightContainBuilder)
  }
}
