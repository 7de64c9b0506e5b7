package graft

import org.apache.spark.sql.SparkSession

/** Library front door. Two ways in:
  *
  *  - **Session build time** (preferred on a fresh session):
  *    {{{
  *    SparkSession.builder()
  *      .config("spark.sql.extensions", "graft.GraftExtensions")
  *      ...
  *    }}}
  *  - **Runtime, on a session you already have** (a notebook, a shared
  *    cluster session, the Verify/Bench mains):
  *    {{{
  *    graft.Graft.install(spark)
  *    }}}
  *
  * Both paths register the same surface, idempotently:
  *   - native expressions: `dot_d` (codegen'd float-array dot product),
  *     `poly_hash_arr` (codegen'd per-word polynomial gram hash),
  *     `bloom_agg` / `bloom_might_contain` (Spark-internal bloom pair);
  *   - the `TopKPerGroup` planner strategy (bounded-heap per-group top-k);
  *   - the `TopKRewrite` optimizer rule (the `row_number() <= k` window
  *     idiom auto-plans as the heap operator);
  *   - the `SmallSortRewrite` optimizer rule: a global ORDER BY over an
  *     input Catalyst sizes at or under `spark.sql.autoBroadcastJoinThreshold`
  *     (deterministic, no `Generate`) sorts in one task behind a
  *     `coalesce(1)`, with no range-sample job and no range shuffle; a
  *     negative threshold turns it off. The fixture readers (`Tables`)
  *     install it too.
  *
  * `install` deliberately does NOT touch session confs — shuffle
  * partitioning, AQE, timezone and ANSI settings belong to the session
  * owner (README documents the recommended ones). The fixture readers
  * (`Tables`) do set two: `spark.sql.legacy.parquet.nanosAsLong` for the
  * events reader, and `spark.sql.artifact.isolation.enabled=false` on a
  * session that holds no value for it, so a fresh session reuses the
  * generated classes earlier sessions compiled (`Tables.table`'s guard).
  * An owner who sets the isolation flag keeps their value.
  *
  * Model-style operators need no registration: train an ANN index with
  * [[graft.operators.IvfPqIndex.fit]] and encode batch or streaming
  * frames with the returned [[graft.operators.IvfPqModel]]; distributed
  * order statistics live in [[graft.operators.ExactQuantiles]], graph
  * connectivity in [[graft.operators.ConnectedComponents]], and the
  * one-pass exact Pearson matrix in [[graft.operators.CorrMatrix]].
  */
object Graft {
  def install(spark: SparkSession): Unit = {
    functions.DotProduct.register(spark)
    functions.PolyHashArr.register(spark)
    functions.Blooms.register(spark)
    functions.MisraGries.register(spark)
    operators.TopK.ensureRewrite(spark)
    plans.SmallSortRewrite.ensure(spark)
  }
}
