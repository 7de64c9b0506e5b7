package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library front door (graft.Graft.install): one call on an existing
  * session registers the native expressions, the heap strategy, the
  * top-k rewrite and the small-sort rewrite — idempotently, also beside
  * GraftExtensions and the fixture readers' own install. Also the artifact-isolation conf the
  * fixture readers set: fresh sessions share generated classes unless
  * their owner chose isolation.
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
      assert(cs.experimental.extraOptimizations.count(_ == plans.SmallSortRewrite) == 1)

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

  /** Copies of `rule` the session's optimizer runs: injected at build
    * time plus added at runtime.
    */
  private def copies(sess: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[_]): Int = {
    val cs = sess.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.sessionState.optimizer.extendedOperatorOptimizationRules.count(_ == rule) +
      cs.experimental.extraOptimizations.count(_ == rule)
  }

  test("a fixture read adds SmallSortRewrite to its session exactly once") {
    val fresh = s.newSession()
    assert(copies(fresh, plans.SmallSortRewrite) == 0)
    Tables.orders(fresh, d)
    Tables.customer(fresh, d)
    assert(copies(fresh, plans.SmallSortRewrite) == 1)
    Graft.install(fresh) // the runtime front door finds the reader's copy
    assert(copies(fresh, plans.SmallSortRewrite) == 1)
  }

  test("a GraftExtensions session runs each graft rule and strategy once, after install and a fixture read") {
    val ext = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    val cs = ext.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Graft.install(ext)
    Tables.orders(ext, d)
    for (rule <- Seq(plans.TopKRewrite, plans.SmallSortRewrite)) {
      assert(cs.sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule))
      assert(copies(ext, rule) == 1, s"${rule.ruleName} added again at runtime")
    }
    assert(cs.sessionState.planner.strategies.count(_ == plans.TopKPerGroupStrategy) == 1)
    // the injected copy rewrites: a small global sort plans no range exchange
    val plan = Tables.customer(ext, d).orderBy("c_acctbal", "c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce 1") && !plan.contains("rangepartitioning"), plan)
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

  test("a graft key run in a second fresh session compiles no generated class") {
    // each window builds the key in its own newSession() and sinks it;
    // without shared generated classes every fresh session compiles the
    // key's whole-stage classes again under its own class loader
    def inFreshSession() = {
      val fresh = s.newSession()
      Profile.measure(fresh, "codegen/window_rank")(SparkEntry.queries("window_rank")(fresh, d))
    }
    inFreshSession()
    val second = inFreshSession()
    assert(second.compiles == 0, s"second fresh session compiled ${second.compiles} classes")
  }

  test("an owner's artifact isolation setting survives a graft key") {
    val key = "spark.sql.artifact.isolation.enabled"
    val fresh = s.newSession()
    fresh.conf.set(key, "true")
    SparkEntry.queries("window_rank")(fresh, d).write.format("noop").mode("overwrite").save()
    assert(fresh.conf.get(key) == "true")
  }

  /** The engine reads one graft conf: the test-armed domain guard
    * (`ExactRatio.DomainGuardConf`). Tooling and test switches stay out of
    * src/main: a tool registers what it needs through public Spark API, a
    * test takes a rule out of `experimental.extraOptimizations`. A new
    * `"spark.graft.` literal goes red here.
    */
  test("src/main reads no spark.graft conf but the domain guard") {
    def walk(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles).getOrElse(Array.empty[java.io.File]).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"census root ${root.getAbsolutePath} missing - the suite must run from the repo root")
    val literal = "\"spark\\.graft\\.[^\"]*\"".r
    val found = (for {
      f <- walk(root)
      m <- literal.findAllIn(java.nio.file.Files.readString(f.toPath))
    } yield s"${f.getName}: $m").sorted
    assert(found == Seq("ExactRatio.scala: \"spark.graft.domainGuard\""),
      s"graft confs read by src/main drifted from the domain guard alone: $found")
  }
}
