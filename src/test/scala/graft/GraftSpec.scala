package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library front door (graft.Graft.install): one call on an existing
  * session registers the native expressions, the heap strategy and the
  * top-k rewrite — idempotently.
  */
class GraftSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  test("Graft.install wires expressions, strategy and rewrite into a live session") {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Graft.install(s)
    Graft.install(s) // idempotent: no duplicate strategies/rules
    try {
      // planner.strategies already folds in experimental.extraStrategies —
      // exactly one copy total is the idempotence contract
      assert(cs.sessionState.planner.strategies
        .count(_ == plans.TopKPerGroupStrategy) == 1)
      assert(cs.experimental.extraOptimizations.count(_ == plans.TopKRewrite) == 1)

      // dot_d usable from SQL text
      val dot = s.sql(
        "SELECT dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect().head.getDouble(0)
      assert(dot == 11.0)

      // freq_items usable from SQL text; exact on a stream narrower than k
      val fi = s.sql(
        "SELECT inline(f) FROM (SELECT freq_items(x, 8) AS f FROM VALUES ('a'),('b'),('a') t(x))")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(fi == Seq(("a", 2L), ("b", 1L)))

      // bloom pair usable from SQL text (build on a 1-row relation)
      val bloomHit = s.sql(
        "SELECT bloom_might_contain((SELECT bloom_agg(x) FROM VALUES (CAST(7 AS BIGINT)) t(x)), CAST(7 AS BIGINT)) AS hit")
        .collect().head.getBoolean(0)
      assert(bloomHit)

      // the window idiom now plans as the heap operator
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val plan = Tables.orders(s, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup"), plan)
    } finally {
      // don't leak the rewrite into later suites' plan-shape gates
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations.filterNot(_ == plans.TopKRewrite)
    }
  }

  test("each function's register is check-then-add: a second call keeps the first registration") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = s.newSession() // a new session's registry has builtins only
    val registry = fresh.sessionState.functionRegistry
    val registrations: Seq[(org.apache.spark.sql.SparkSession => Unit, Seq[String])] = Seq(
      (functions.DotProduct.register, Seq("dot_d")),
      (functions.PolyHashArr.register, Seq("poly_hash_arr")),
      (functions.Blooms.register, Seq("bloom_agg", "bloom_might_contain")),
      (functions.MisraGries.register, Seq("freq_items")))
    for ((register, names) <- registrations) {
      val ids = names.map(FunctionIdentifier(_))
      assert(!ids.exists(registry.functionExists), s"$names registered before the first call")
      register(fresh)
      val first = ids.map(registry.lookupFunction(_).get)
      register(fresh)
      // a re-registration would store a new ExpressionInfo
      ids.zip(first).foreach { case (id, info) =>
        assert(registry.lookupFunction(id).get eq info, s"${id.funcName} was registered again")
      }
    }
  }
}
