package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the custom whole-operator stack (graft.plans.TopKPerGroup +
  * TopKPerGroupStrategy + graft.operators.TopK): semantics vs the window
  * formulation, the partial/final physical shape, bounded-heap behavior
  * on a hot group, and determinism under duplicate sort tuples.
  */
class PlansSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterEach {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf
  override def afterEach(): Unit = { s.catalog.clearCache(); super.afterEach() }

  test("topk_group_native multiset equals the window-rank formulation") {
    val native = SparkEntry.queries("topk_group_native")(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val window = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3).drop("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(native == window, "custom operator diverges from window rank")
  }

  test("physical plan is partial heap -> group exchange -> final heap") {
    val plan = SparkEntry.queries("topk_group_native")(s, d)
      .queryExecution.executedPlan.toString
    // nodeName strips the Exec suffix; partial prints `, true` and final `, false`
    assert("TopKPerGroup".r.findAllIn(plan).length == 2, plan)
    val partialIdx = plan.indexOf(", 3, true")
    val finalIdx = plan.indexOf(", 3, false")
    val exchIdx = plan.indexOf("Exchange hashpartitioning(o_custkey")
    assert(finalIdx >= 0 && exchIdx > finalIdx && partialIdx > exchIdx,
      s"expected final above the group exchange above partial:\n$plan")
    // column pruning must pass through the custom node to the scan
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"),
      s"pruned read schema expected:\n$plan")
  }

  test("TopKRewrite: the window-rank idiom auto-plans as bounded heaps, rows identical") {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    operators.TopK.ensureRewrite(s)
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      def q = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val plan = q.queryExecution.executedPlan.toString
      assert("TopKPerGroup".r.findAllIn(plan).length == 2,
        s"window idiom did not rewrite to the heap operator:\n$plan")
      val got = q.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
      // identical rows INCLUDING the recomputed rank when the rule is off
      s.conf.set(plans.TopKRewrite.ConfKey, "false")
      val offPlan = q.queryExecution.executedPlan.toString
      assert(!offPlan.contains("TopKPerGroup"), s"conf kill-switch ignored:\n$offPlan")
      val off = q.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
      assert(got == off, "rewritten rows diverge from the window idiom")
      s.conf.unset(plans.TopKRewrite.ConfKey)
      // ineligible shapes pass through untouched: rank() is not row_number
      val rankQ = Tables.orders(s, d)
        .withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
      assert(!rankQ.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      // ... and a second window expression disables the rewrite
      val twoQ = Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("mx", max("o_totalprice").over(
          org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")))
        .filter(col("rn") <= 3)
      assert(!twoQ.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    } finally {
      s.conf.unset(plans.TopKRewrite.ConfKey)
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations.filterNot(_ == plans.TopKRewrite)
    }
  }

  test("scan_partitioned prunes to the lang=en directory and matches the flat scan") {
    val q = SparkEntry.queries("scan_partitioned")(s, d)
    val plan = q.queryExecution.executedPlan.toString
    // pruning evidence: the lang predicate must land in PartitionFilters
    // (directory-level skip), NOT as a data filter over the full corpus
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.exists(f => f.contains("lang") && f.contains("= en")),
      s"lang=en not in PartitionFilters:\n$plan")
    // lang is a directory key, so the parquet data read carries only the
    // remaining columns — no lang column decoded from file bytes
    assert("ReadSchema: [^\\n]*".r.findFirstIn(plan).exists(rs => !rs.contains("lang")),
      s"partition column unexpectedly in ReadSchema:\n$plan")
    // pruning must not change results vs the unpartitioned fixture scan
    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getLong(3), r.getLong(4))).toSeq
    val flat = Tables.documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        expr("cast(octet_length(text) as bigint)").as("n_bytes"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty && got == flat, "partitioned scan diverges from flat scan")
  }

  test("hot group: one group spread over many partitions still yields exact top-k") {
    import s.implicits._
    // 10k rows, ONE group, 32 input partitions — the window formulation
    // would move all 10k rows to one reducer; the operator's exchange
    // carries at most k per map partition
    val df = s.range(10000).select(lit("hot").as("g"),
      (col("id") * 7919 % 10007).as("v"), col("id")).repartition(32)
    val res = operators.TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> false), 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    val brute = (0L until 10000L).map(id => ((id * 7919) % 10007, id))
      .sortBy { case (v, id) => (-v, id) }.take(5).sorted.toSeq
    assert(res == brute)
  }

  test("duplicate sort tuples at the cut: kept multiset is deterministic") {
    import s.implicits._
    // 6 identical (g, v) rows, k = 4 — any 4 are interchangeable, so the
    // OUTPUT multiset must always be the same 4 identical tuples
    val df = Seq.fill(6)(("g", 1L)).toDF("g", "v").repartition(5)
    val runs = (1 to 3).map { _ =>
      operators.TopK.perGroup(df, Seq("g"), Seq("v" -> false), 4)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    }
    assert(runs.forall(_ == Seq.fill(4)(("g", 1L))), runs.toString)
  }

  test("randomized: TopK matches sort-take on 8 seeded shapes (dups, skew, tiny groups)") {
    import s.implicits._
    for (seed <- 1 to 8) {
      // deterministic LCG — no RNG state in tests either
      var x = seed.toLong
      def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); math.abs(x) }
      val n = 50 + (next() % 400).toInt
      val nGroups = 1 + (next() % 5).toInt
      val valueDomain = 1 + (next() % 20).toInt // small domain => many dup sort keys
      val k = 1 + (next() % 6).toInt
      val rows = (0 until n).map { i =>
        (s"g${next() % nGroups}", next() % valueDomain, i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(7)
      val got = operators.TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> false), k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy { case (_, v, id) => (-v, id) }.take(k)
      }.sorted
      assert(got == want, s"seed $seed: k=$k n=$n groups=$nGroups domain=$valueDomain")
    }
  }

  test("stress: ExactQuantiles and TopK stay exact on 5M synthetic rows") {
    import s.implicits._
    // 5M rows, 40 groups, value domain with heavy duplication — an order
    // of magnitude past the sf0.1 fixtures, checking the partition-offset
    // bookkeeping and heap kernels well beyond toy sizes
    val df = s.range(5000000L).select(
      (col("id") % 40).cast("string").as("g"),
      ((col("id") * 2654435761L) % 100000).as("v"),
      col("id"))
    val qs = operators.ExactQuantiles.groupedScaled(df, "g", "v", Seq(0.5), 2)
    assert(qs.size == 40)
    // per-group median re-derived for 3 spot groups (local sort of 125k)
    for (g <- Seq("0", "17", "39")) {
      val vs = df.filter(col("g") === g).select("v")
        .collect().map(_.getLong(0)).sorted
      val pos = 0.5 * (vs.length - 1)
      val lo = math.floor(pos).toInt
      val want = math.round(2 * vs(lo) +
        (vs(math.min(lo + 1, vs.length - 1)) - vs(lo)) * ((pos - lo) * 2))
      assert(qs(g).head == want, s"group $g median diverges at 5M rows")
    }
    val top = operators.TopK.perGroup(df, Seq("g"), Seq("v" -> true, "id" -> false), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.length == 120)
    val g0 = df.filter(col("g") === "0").select("v", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (v, id) => (-v, id) }.take(3)
    assert(top.filter(_._1 == "0").map(t => (t._2, t._3)).sorted.toSeq == g0.sorted.toSeq)
  }

  test("k larger than the group returns the whole group") {
    import s.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("g", "v")
    val res = operators.TopK.perGroup(df, Seq("g"), Seq("v" -> true), 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(res == Seq(("a", 1L), ("a", 2L), ("b", 9L)))
  }

  // AQE's executedPlan.toString prints "== Final Plan ==" AND
  // "== Initial Plan ==" — counting node occurrences over the whole
  // string double-counts; gate on the final section only
  private def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    val i = p.indexOf("== Initial Plan ==")
    if (i >= 0) p.take(i) else p
  }

  test("embedding_project computes with zero shuffle (presentation sort only)") {
    val plan = finalPlan(SparkEntry.queries("embedding_project")(s, d))
    // the projection itself is map-only; only the final ORDER BY may
    // introduce a range exchange — any hash exchange means a shuffle
    // crept into the computation
    assert(!plan.contains("Exchange hashpartitioning"),
      s"projection must not shuffle:\n$plan")
  }

  test("inverted_index: one token exchange shared by window and aggregate, TakeOrdered cut") {
    val plan = finalPlan(SparkEntry.queries("inverted_index")(s, d))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"window + df aggregate must share ONE (tok) exchange, saw $hashExchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must plan as a bounded heap, not a global sort:\n$plan")
  }

  test("stats_spearman: one scan, no joins — both rank windows ride the domain table") {
    val plan = finalPlan(SparkEntry.queries("stats_spearman")(s, d))
    // the marginal-tables-joined-back form scanned lineitem THREE times
    // (differing pushed join-key filters defeat ReuseExchange — the
    // stats_cramers_v lesson); the domain-window form reads it once and
    // joins nothing
    assert("FileScan parquet".r.findAllIn(plan).length == 1,
      s"spearman must scan lineitem exactly once:\n$plan")
    assert(!plan.contains("Join"), s"spearman must not join:\n$plan")
  }

  test("parts_abc: no partition-less window anywhere — the running sum is range-partitioned") {
    // the r14 pathology: sum() OVER (ORDER BY …) with no PARTITION BY
    // single-tasks the whole part dimension (Spark's own WindowExec
    // warning; 47 s under driver contention). The RangePrefixSum shape
    // must leave NO window node in the executed plan at all.
    val df = SparkEntry.queries("parts_abc")(s, d)
    val plan = finalPlan(df)
    assert(!plan.contains("Window"), s"parts_abc must not plan a window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"parts_abc must not force a single-partition exchange for ordering:\n$plan")
  }

  test("interval_concurrency: running sum is range-partitioned, no window node") {
    // VERDICT r19 item 4: the minute domain grows with wall-clock span
    // (unlike the fixed value spaces on the allowlist), so the running
    // sum must be the RangePrefixSum two-pass shape, window-free
    val plan = finalPlan(SparkEntry.queries("interval_concurrency")(s, d))
    assert(!plan.contains("Window"),
      s"interval_concurrency must not plan a window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"interval_concurrency must not force a single-partition exchange:\n$plan")
  }

  test("no key plans a partition-less window outside the audited bounded-domain allowlist") {
    // the r14 parts_abc lesson: sum() OVER (ORDER BY ...) with no
    // PARTITION BY moves the whole input into ONE task. That is only
    // acceptable over a domain bounded by VALUE SPACE, not by row count —
    // each allowlisted key's domain argument is audited here, and the
    // gate fails both ways (a new partition-less window on an unlisted
    // key, or a stale allowlist entry whose window was since removed).
    val allow = Map(
      "corpus_heaps" -> "16-row checkpoint spine (fixed k = 1..16)",
      "corpus_token_budget" -> "|sources|x|langs| cells",
      "exp_pipeline" -> "231-row composite grid",
      "drift_psi" -> "(type, day) cells - day is wall-clock-bounded (r17)",
      // interval_concurrency left r20: its minute domain grows with
      // wall-clock SPAN (not a fixed value space) - re-planned on
      // RangePrefixSum, no window node remains
      "kl_divergence" -> "|sources|x|langs| cells (r17)",
      // orders_rfm left r21: the r/f quartile spines (its last
      // partition-less windows) were folded into the single grouped
      // ExactQuantiles pass — no window node remains
      "pareto_frontier" -> "distinct price-cents domain (value-bounded)",
      "retrieval_rrf" -> "bounded top-k candidate lists",
      "stats_anova" -> "|event types| rows",
      "stats_levene" -> "|event types| rows (the anova total window)",
      "stats_benford" -> "9 digits",
      "stats_benford_chisq" -> "9 digits",
      "stats_cramers_v" -> "|segments|x|nations| cells",
      "stats_mutual_info" -> "|segments|x|nations| cells",
      "text_zipf" -> "top-500 TakeOrdered cut")
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val found = scala.collection.mutable.Set.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case w: WindowExec if w.partitionSpec.isEmpty => found += k
          case _ => ()
        }
        p.children.foreach(walk)
        p match { case a: AdaptiveSparkPlanExec => walk(a.executedPlan); case _ => () }
      }
      walk(fn(s, d).queryExecution.executedPlan)
      s.catalog.clearCache()
    }
    val unlisted = found.toSet -- allow.keySet
    assert(unlisted.isEmpty,
      s"partition-less WindowExec in unaudited keys: $unlisted - either " +
        "re-plan (RangePrefixSum / per-key windows) or audit the domain bound here")
    val stale = allow.keySet -- found
    assert(stale.isEmpty, s"allowlist entries without such a window any more: $stale")
  }

  test("RangePrefixSum: exact running sums across partitions, ties, and empty partitions") {
    import s.implicits._
    // adversarial: heavy ties in the value (the order includes the
    // tie-breaking key), values large enough to matter, tiny partitions
    val rows = (1L to 1000L).map(i => (i, (i % 7) * 1000000007L))
    val df = rows.toDF("k", "v")
      .select(col("k"), col("v").cast("decimal(38,0)").as("v"))
      .repartition(13)
    val (out, total) = operators.RangePrefixSum.withRunningSum(
      df, Seq(col("v").desc, col("k")), "v", "cum")
    val got = out.collect()
      .map(r => (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger),
        BigInt(r.getDecimal(2).toBigInteger)))
    val sorted = rows.sortBy { case (k, v) => (-v, k) }
    var run = BigInt(0)
    val want = sorted.map { case (k, v) => run += v; (k, BigInt(v), run) }
    assert(got.sortBy(t => (-t._2, t._1)).toSeq == want, "running sums diverge")
    assert(BigInt(total.toBigInteger) == rows.map(r => BigInt(r._2)).sum, "grand total")
  }

  test("events_interarrival: the lag window partitions on (type, day), never type alone") {
    val plan = finalPlan(SparkEntry.queries("events_interarrival")(s, d))
    // day-bounding is the scale contract: a per-type-only ordering would
    // sort a type's entire history in one task at 100 TB
    assert(plan.contains("windowspecdefinition(event_type#") &&
      plan.matches("(?s).*windowspecdefinition\\(event_type#\\d+, day#\\d+.*"),
      s"gap lag must partition on (event_type, day):\n$plan")
  }

  test("token_pmi broadcasts the model sides and cuts via TakeOrdered") {
    val plan = finalPlan(SparkEntry.queries("token_pmi")(s, d))
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"singles joins must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-50 must plan bounded:\n$plan")
  }

  test("kmeans_iter plans the argmin as a combinable aggregate, not a window") {
    val plan = finalPlan(SparkEntry.queries("kmeans_iter")(s, d))
    assert(!plan.contains("Window"),
      s"min(struct(d2,c)) must plan as an aggregate, no per-vector window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"centroid/checksum sides must broadcast:\n$plan")
  }

  test("ml_score plans as broadcast inference: model broadcast, argmax aggregate, no window") {
    // the r12 inference template: the scored stream must meet the 2x64
    // model via a BROADCAST (never shuffle the corpus against a model
    // table) and the per-vector argmax must be the combinable
    // min(struct(-s, c)) aggregate — a Window here would mean a
    // per-vector rank pass crept back in
    val plan = finalPlan(SparkEntry.queries("ml_score")(s, d))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"model must broadcast onto the scored fold:\n$plan")
    assert(!plan.contains("Window"),
      s"argmax must plan as an aggregate, no per-vector window:\n$plan")
  }

  test("retrieval_rrf: both candidate lists plan as bounded heaps over broadcast-scored passes") {
    val plan = finalPlan(SparkEntry.queries("retrieval_rrf")(s, d))
    // lexical top-50, dense top-50 and the fused top-20 must all cut via
    // TakeOrdered — a global Sort anywhere means a ranking escaped its
    // bound; the BM25 stats and the 1-row probe must broadcast
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      s"candidate cuts must plan as bounded heaps:\n$plan")
    assert(!plan.contains("Sort [rrf_e9"),
      s"fused cut must not global-sort:\n$plan")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).length >= 2,
      s"stats + probe sides must broadcast:\n$plan")
  }

  test("retrieval_eval: probe side broadcasts and the per-probe top-10 is group-limited") {
    val plan = finalPlan(SparkEntry.queries("retrieval_eval")(s, d))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"bounded probe side must broadcast onto the corpus:\n$plan")
    assert(plan.contains("WindowGroupLimit") || plan.contains("PartialTopK"),
      s"rnk <= 10 must bound the per-probe exchange:\n$plan")
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan at runtime") {
    // THE big-table scan lever after static pruning: the fact side's
    // partition filter is only known after the dimension is filtered, so
    // Spark injects a runtime subquery into the partitioned scan. Pin
    // that the executed fact scan carries the dynamicpruning expression
    // and actually read only the matching partition's rows.
    // DPP needs a FILE-BASED, filtered dim side — a LocalRelation dim
    // never triggers the injection (probed; the heuristic wants a real
    // selective scan to reuse as the pruning subquery)
    val s2 = TestSpark.spark
    import s2.implicits._
    val factDir = graft.sources.Sources.stageDocumentsByLang(s2, d)
    val fact = s2.read.parquet(factDir)
    TestSpark.withTempDir("graft_dpp") { tmp =>
      Seq(("en", "keep"), ("de", "drop"), ("fr", "drop")).toDF("d_lang", "tag")
        .write.mode("overwrite").parquet(s"$tmp/dim")
      val dim = s2.read.parquet(s"$tmp/dim").filter(col("tag") === "keep")
      val joined = fact.join(dim, col("lang") === col("d_lang"))
      joined.write.format("noop").mode("overwrite").save()
      val executed = joined.queryExecution.executedPlan.toString
      assert(executed.contains("dynamicpruningexpression"),
        s"fact scan must carry a runtime pruning subquery:\n$executed")
      val expected = fact.filter(col("lang") === "en").count()
      assert(joined.count() == expected)
    }
  }

  test("nested-schema pruning: selecting one struct field prunes the scan to that leaf") {
    // struct-heavy corpora (metadata blobs, request envelopes) live or die
    // by leaf-level column pruning — reading the whole struct for one
    // field multiplies scan bytes
    val s2 = TestSpark.spark
    import s2.implicits._
    TestSpark.withTempDir("graft_nested") { dir =>
      Seq((1L, "en", 100L, "body-text")).toDF("doc_id", "lang", "n_chars", "body")
        .select(col("doc_id"),
          struct(col("lang"), col("n_chars"), col("body")).as("meta"))
        .write.mode("overwrite").parquet(s"$dir/t")
      val plan = s2.read.parquet(s"$dir/t").select(col("meta.lang"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("meta:struct<lang:string>"),
        s"scan must read only the selected leaf, not the whole struct:\n$plan")
      assert(!plan.contains("body"), s"unselected leaves must not be read:\n$plan")
    }
  }

  test("CBO: ANALYZE TABLE statistics drive the broadcast decision without a hint") {
    // at cluster scale nobody hand-hints every join — the operational
    // practice is computing table statistics and letting the optimizer
    // pick the build side. Pin the full loop: saved table → ANALYZE →
    // stats visible in the plan → small side auto-broadcasts with NO
    // broadcast() hint in the query
    val s2 = TestSpark.spark
    s2.sql("DROP TABLE IF EXISTS cbo_nation")
    s2.sql("DROP TABLE IF EXISTS cbo_supplier")
    Tables.nation(s2, d).write.saveAsTable("cbo_nation")
    Tables.supplier(s2, d).write.saveAsTable("cbo_supplier")
    try {
      s2.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS")
      s2.sql("ANALYZE TABLE cbo_supplier COMPUTE STATISTICS")
      val rowCount = s2.sql("DESCRIBE TABLE EXTENDED cbo_nation")
        .filter(col("col_name") === "Statistics").collect()
      assert(rowCount.nonEmpty && rowCount(0).getString(1).contains("rows"),
        "ANALYZE must record row-count statistics")
      val joined = s2.table("cbo_supplier")
        .join(s2.table("cbo_nation"), col("s_nationkey") === col("n_nationkey"))
      val plan = finalPlan(joined)
      assert(plan.contains("BroadcastHashJoin"),
        s"statistics must drive an unhinted broadcast of the 25-row side:\n$plan")
      assert(joined.count() == Tables.supplier(s2, d).count())
    } finally {
      s2.sql("DROP TABLE IF EXISTS cbo_nation")
      s2.sql("DROP TABLE IF EXISTS cbo_supplier")
    }
  }

  test("ann_pq_adc scores the compressed corpus map-only: broadcast tables, bounded top-3") {
    val plan = finalPlan(SparkEntry.queries("ann_pq_adc")(s, d))
    // the probe distance tables must broadcast onto the code table (the
    // corpus side never shuffles against probe data) and the per-probe
    // top-3 must bound the rank exchange
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"distance tables must broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-probe top-3 must bound the exchange:\n$plan")
  }

  test("ann_ivfpq routes probes through a cell-keyed broadcast equi-join, never a cross") {
    val plan = finalPlan(SparkEntry.queries("ann_ivfpq")(s, d))
    // the scan must only meet probe data through the (c_id = cluster)
    // HASH join — a nested-loop or cartesian here would mean the corpus
    // codes are scored against every probe instead of the probed cells
    assert(plan.contains("BroadcastHashJoin"),
      s"probe routing must be a broadcast hash join on the cell id:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ scoring must never cross probes with the whole corpus:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-probe top-3 must bound the rank exchange:\n$plan")
  }

  test("ann_ivfpq_rerank: shortlist is WindowGroupLimit-bounded, re-score joins stay broadcast") {
    val plan = finalPlan(SparkEntry.queries("ann_ivfpq_rerank")(s, d))
    // the ADC shortlist must stay per-probe bounded BEFORE the exact
    // re-score, and both the cell routing and the R-row re-score join
    // must be broadcast hash joins — a cross or shuffled join here would
    // re-score against the corpus instead of the R candidates
    assert(plan.contains("WindowGroupLimit"),
      s"ADC shortlist must bound the exchange via WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell routing and re-score must be broadcast hash joins:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"re-rank must never cross probes with the corpus:\n$plan")
  }

  test("ann_lsh_bucket bounds the re-rank with WindowGroupLimit and pushes the probe filter") {
    val plan = finalPlan(SparkEntry.queries("ann_lsh_bucket")(s, d))
    assert(plan.contains("WindowGroupLimit"),
      s"top-3 re-rank must bound the exchange via WindowGroupLimit:\n$plan")
    assert(plan.contains("LessThan(vec_id,50)"),
      s"probe bound must reach the parquet scan as a pushed filter:\n$plan")
  }

  /** Parquet scans `q` performs: FileSourceScanExec nodes in its plan,
    * recursing ONCE into each distinct cached relation (its scans count
    * once no matter how many times the plan references the cache) and
    * ONCE into each distinct exchange subtree, keyed by its canonicalized
    * form — the key Spark's exchange reuse matches on, so an exchange the
    * executed plan shows as a `ReusedExchange` counts once. An adaptive
    * plan is walked in its initial form, before any stage has run.
    */
  private def scanCount(q: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    var n = 0
    def walk(p: SparkPlan): Unit = {
      val descend = p match {
        case _: FileSourceScanExec => n += 1; true
        case im: InMemoryTableScanExec =>
          if (seen.add(im.relation.cacheBuilder)) walk(im.relation.cachedPlan)
          true
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan); true
        case e: Exchange => seen.add(e.canonicalized)
        case _ => true
      }
      if (descend) {
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
    }
    walk(q.queryExecution.executedPlan)
    n
  }

  test("scan count: a read through a reused exchange counts once") {
    val g = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
    val q = g.as("a").join(g.as("b"), col("a.lang") === col("b.lang"))
    assert(scanCount(q) == 1)
    // the two sides' identical aggregate exchange runs once: once the
    // query has run, its final plan reads the second side as a
    // ReusedExchange
    val plan = finalPlan(q)
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("scan count: two reads of one table with different filters count 2") {
    val docs = Tables.documents(s, d)
    def half(r: Int) = docs.filter(col("doc_id") % 2 === r)
      .groupBy("lang").agg(count(lit(1)).as(s"n$r"))
    assert(scanCount(half(0).join(half(1), "lang")) == 2)
  }

  test("per-key parquet scan counts match the audited baseline (multi-scan regressions fail)") {
    // VERDICT r16 item 2: the one-scan discipline (SURVEY 7.3) was only
    // enforced where a plan test happened to look; this gate pins EVERY
    // key's physical parquet-scan count so a multi-scan regression (the
    // old stats_cramers_v 5-scan class, or r17's triangle_count 9x
    // levenshtein re-join) is a test failure anywhere in the suite.
    // Counting rule: [[scanCount]] (a read Spark shares, through a cache
    // or a reused exchange, counts once). 0 = result rides a LocalRelation
    // (bounded driver-side boundary/model collects, e.g. bpe_train,
    // parts_abc) or a pure generator (gen_grid). The gate fails BOTH ways:
    // an increase is a regression; a decrease is a stale baseline -
    // re-audit and record the improvement here.
    val expected = Map(
    "agg_approx_distinct" -> 1,
    "agg_approx_percentile" -> 1,
    "agg_collect_list" -> 1,
    "agg_count_distinct" -> 2,
    "agg_cube" -> 1,
    "agg_distinct_global" -> 1,
    "agg_grouping_sets" -> 3,
    "agg_hash_sum" -> 1,
    "agg_mode" -> 1,
    "agg_percentile" -> 1,
    "agg_quartiles_exact" -> 0,
    "agg_rollup" -> 3,
    "agg_string_agg" -> 1,
    "agg_weighted_median" -> 1,
    "ann_ivf" -> 2,
    "ann_ivfpq" -> 1,
    // r20: same single embeddings scan as ann_ivfpq — the re-rank joins
    // the shortlist back to the ALREADY-CACHED quantized-vector frame
    "ann_ivfpq_rerank" -> 1,
    "ann_lsh_bucket" -> 2,
    "ann_pq_adc" -> 1,
    "attribution_last_touch" -> 2,
    "basket_lift" -> 2,
    "basket_pairs" -> 2,
    "bpe_apply_merge" -> 2,
    "bpe_pair_counts" -> 1,
    "bpe_train" -> 0,
    "chunk_overlap" -> 1,
    "class_rebalance" -> 1,
    "col_entropy" -> 1,
    "corpus_heaps" -> 3,
    "corpus_novelty" -> 2,
    "corpus_token_budget" -> 1,
    "dataset_split" -> 1,
    "decontaminate" -> 2,
    "dedup_calibration" -> 1,
    "dedup_chunk" -> 1,
    "dedup_cluster" -> 1,
    "dedup_containment" -> 1,
    "dedup_embedding" -> 2,
    "dedup_exact" -> 1,
    "dedup_fuzzy" -> 1,
    "dedup_incremental" -> 1,
    "dedup_name_variants" -> 2,
    // the pair kernel caches no gram table: both sides of the gram
    // self-join read one gram exchange (a ReusedExchange at run time,
    // asserted in ScaleSpec "the pair kernel shuffles the gram table
    // once"), so the exchange-aware count is 1
    "dedup_ngram_jaccard" -> 1,
    // the pair edges are a driver literal (LlmOps.pairEdges): only the
    // documents scan of the join remains, 2 -> 1 (same for graph_degree)
    "dedup_rate_by_source" -> 1,
    "dedup_retention" -> 1,
    "dedup_simhash" -> 1,
    "dedup_strip" -> 1,
    "domain_mix" -> 1,
    "dq_audit" -> 5,
    "drift_psi" -> 1,
    "embedding_centroid" -> 2,
    "embedding_cluster" -> 1,
    "embedding_pq" -> 1,
    "embedding_project" -> 1,
    "embedding_quantize" -> 1,
    "events_anomaly_days" -> 1,
    "events_autocorr" -> 1,
    "events_burstiness" -> 1,
    "events_cohort" -> 2,
    "events_cusum" -> 1,
    "events_dau_wau" -> 2,
    "events_funnel" -> 3,
    "events_hourly_profile" -> 1,
    "events_interarrival" -> 1,
    "events_markov_entropy" -> 1,
    "events_ohlc" -> 1,
    "events_rolling" -> 1,
    "events_rolling_median" -> 1,
    "events_seasonality" -> 1,
    "events_transitions" -> 1,
    "events_twa" -> 1,
    "events_zscore" -> 2,
    "exp_pipeline" -> 1,
    "feature_cdf" -> 2,
    "filter_pred" -> 1,
    "flagship_pricing" -> 5,
    "fn_array" -> 1,
    "fn_case_when" -> 1,
    "fn_date" -> 1,
    "fn_explode" -> 1,
    "fn_json" -> 1,
    "fn_json_schema" -> 1,
    "fn_json_table" -> 1,
    "fn_map" -> 1,
    "fn_math" -> 1,
    "fn_null" -> 1,
    "fn_string" -> 1,
    "fn_struct" -> 1,
    "forecast_seasonal_naive" -> 1,
    "gen_grid" -> 0,
    "gen_sequence" -> 0,
    "graph_degree" -> 1,
    "graph_pagerank" -> 0,
    "histogram_equidepth" -> 1,
    "histogram_fixed" -> 1,
    "ingest_csv" -> 1,
    "ingest_json" -> 1,
    // r20: RangePrefixSum re-plan - the final plan rides the prefix-sum
    // RDD (the parts_abc class); the events scans feed the pinned
    // range-partitioned frame behind the RDD lineage.
    // KNOWN BLIND SPOT (ADVICE r20): 0 means this gate no longer
    // observes the key's parquet reads at all - a regression that adds
    // redundant events scans under the RDD lineage passes silently here.
    // The shape itself stays gated (PlansSpec "interval_concurrency:
    // running sum is range-partitioned, no window node") and the scan
    // behavior is pinned inside RangePrefixSum (one repartitionByRange of
    // the caller's frame, pinned, both passes read the pin); extending
    // the census into pre-RDD lineage needs a builder-side plan capture.
    "interval_concurrency" -> 0,
    "interval_coverage" -> 1,
    "inverted_index" -> 1,
    "join_anti" -> 2,
    "join_asof" -> 2,
    "join_asof_nearest" -> 2,
    "join_bloom_prefilter" -> 3,
    "join_cross" -> 2,
    "join_full_outer" -> 2,
    "join_inner_broadcast" -> 4,
    "join_interval" -> 2,
    "join_left_outer" -> 2,
    "join_null_safe" -> 1,
    "join_right_outer" -> 2,
    "join_semi" -> 2,
    "join_skew_salted" -> 2,
    "join_sortmerge" -> 2,
    "join_theta_range" -> 2,
    "kl_divergence" -> 1,
    "kmeans_iter" -> 1,
    "knn_label" -> 2,
    "knn_label_ann" -> 2,
    "layout_zvalue" -> 1,
    "limit_topk" -> 1,
    "merge_upsert" -> 3,
    "ml_folds" -> 1,
    "ml_score" -> 1,
    "mm_binary_meta" -> 1,
    "mm_decode_features" -> 1,
    "mm_frame_sample" -> 1,
    "normalize_expr" -> 1,
    "orders_rfm" -> 1,
    "outlier_iqr" -> 2,
    "outlier_mad" -> 1,
    "pack_sequences" -> 1,
    "pareto_frontier" -> 2,
    "parts_abc" -> 0,
    "pivot_wide" -> 1,
    "profile_columns" -> 1,
    "project_select" -> 1,
    "quality_gate" -> 1,
    "resample_ffill" -> 1,
    "retrieval_eval" -> 2,
    "retrieval_rrf" -> 4,
    "revenue_gini" -> 2,
    "sample_det" -> 1,
    "sample_stratified" -> 1,
    "sample_weighted" -> 1,
    "scale_minmax" -> 2,
    "scale_winsorize" -> 1,
    "scan_parquet" -> 1,
    "scan_partitioned" -> 1,
    "scd_type2" -> 1,
    "session_stats" -> 1,
    "sessionize" -> 1,
    "sessionize_gap_sweep" -> 1,
    "sessionize_typed" -> 1,
    "set_except" -> 2,
    "set_intersect" -> 2,
    "set_union_all" -> 2,
    "set_union_distinct" -> 2,
    "sim_cosine_topk" -> 2,
    "sim_signbit_hamming" -> 2,
    // r19: 2 -> 4 by design, not regression — the cp pin was dropped
    // (unpinned measured 1.86 s vs 2.56 s pinned at sf0.1 idle), so the
    // 1-row nc countDistinct subtree scans lineitem+orders again as a
    // concurrent broadcast branch instead of reading a corpus-scale cache;
    // 3 under the exchange-aware count (one of those reads is a reused
    // exchange)
    "sim_sparse_cosine" -> 3,
    "skew_profile" -> 0,
    "sort_multi" -> 1,
    "source_overlap" -> 1,
    "span_attribution" -> 1,
    "stats_anova" -> 1,
    "stats_benford" -> 1,
    "stats_benford_chisq" -> 1,
    "stats_corr_matrix" -> 1,
    "stats_cramers_v" -> 1,
    "stats_kendall_tau" -> 2,
    "stats_ks_test" -> 2,
    "stats_levene" -> 1,
    "stats_mannwhitney" -> 2,
    "stats_mutual_info" -> 1,
    "stats_regression" -> 1,
    "stats_runs_test" -> 1,
    "stats_spearman" -> 1,
    "stats_theil_u" -> 1,
    "stream_session" -> 1,
    "stream_sliding" -> 1,
    "stream_tumbling" -> 1,
    "subquery_scalar" -> 3,
    "text_bigram_logprob" -> 2,
    "text_bm25" -> 2,
    "text_boilerplate" -> 1,
    "text_compressibility" -> 1,
    "text_fingerprint" -> 1,
    "text_hapax" -> 1,
    "text_keyword_extract" -> 2,
    "text_langid" -> 1,
    "text_ngram_coverage" -> 1,
    "text_quality" -> 1,
    "text_redact" -> 1,
    "text_repetition" -> 1,
    "text_stats" -> 1,
    "text_tfidf" -> 2,
    "text_token_count" -> 1,
    "text_tokenize" -> 1,
    "text_unigram_logprob" -> 2,
    "text_verbatim_spans" -> 1,
    "text_zipf" -> 1,
    "token_pmi" -> 1,
    "token_vocab" -> 1,
    "topk_diverse" -> 1,
    "topk_group_native" -> 1,
    "topk_per_group" -> 1,
    "triangle_count" -> 1,
    "typed_filter_agg" -> 1,
    "udaf_typed" -> 1,
    "udf_scalar" -> 1,
    "udtf_gen" -> 1,
    "unpivot_long" -> 1,
    "versioned_latest" -> 2,
    "window_analytic" -> 1,
    "window_frame_range" -> 1,
    "window_frame_rows" -> 1,
    "window_nth" -> 1,
    "window_ntile_pct" -> 1,
    "window_rank" -> 1)
    val actual = SparkEntry.queries.keys.toSeq.sorted.map { k =>
      s.catalog.clearCache()
      k -> scanCount(SparkEntry.queries(k)(s, d))
    }.toMap
    val drift = (expected.keySet -- actual.keySet) ++ (actual.keySet -- expected.keySet)
    assert(drift.isEmpty, s"key-set drift vs baseline: $drift")
    val regressed = actual.filter { case (k, n) => n > expected(k) }
      .map { case (k, n) => s"$k: ${expected(k)} -> $n" }
    assert(regressed.isEmpty,
      s"scan-count REGRESSION (same table scanned more often than audited): $regressed")
    val improved = actual.filter { case (k, n) => n < expected(k) }
      .map { case (k, n) => s"$k: ${expected(k)} -> $n" }
    assert(improved.isEmpty,
      s"stale baseline (plan now scans less - record the improvement): $improved")
  }
}
