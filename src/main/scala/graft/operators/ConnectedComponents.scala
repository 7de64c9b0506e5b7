package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components. Small graphs (bounded edge count — see
  * `minLabel`) are solved on the driver by union-find and broadcast back;
  * the rest of this doc describes the distributed path for big graphs:
  * min-label propagation WITH pointer
  * jumping: every node starts labelled with itself; each round
  * (1) propagates the minimum label across the neighbourhood (self-loops
  * included), then (2) shortcuts by relabelling through the freshly
  * propagated table (`lbl(u) := lbl(lbl(u))`). Labels only ever decrease
  * and stay inside the component (every label is a member node's id), so
  * the fixpoint is the component-minimum everywhere; the shortcut halves
  * the distance to the minimum each round, giving O(log diameter) rounds
  * instead of O(diameter) — a 200-node path converges in ~9 rounds (see
  * ScaleSpec). This is the standard label-propagation + path-compression
  * scheme.
  *
  * Cost shape per round: ONE shuffle join of the (cached) edge list with
  * the label table + one aggregation, plus a label-table self-join (tiny:
  * one row per node). The convergence check is folded into the same
  * aggregation — the self-loop row carries each node's previous label, so
  * "did anything change" is a filter-count on the round's own output, not
  * an extra join: one substantive Spark action per round (plus a
  * micro-job pinning the relabelled cache).
  *
  * Memory/lineage hygiene: each round's labels are re-wrapped as a
  * `LogicalRDD` (`createDataFrame(df.rdd, schema)`), so the Catalyst plan
  * stays O(1) deep across rounds instead of accreting one join+agg per
  * iteration. Unlike `localCheckpoint` this keeps full recompute lineage
  * (safe under cache eviction) and puts nothing in the block manager
  * outside the SQL cache, so `spark.catalog.clearCache()` fully cleans up.
  * Each round unpersists the previous round's cache; only the RETURNED
  * label frame stays cached (it was materialized by the final convergence
  * count) — callers should unpersist it after consuming the result.
  */
object ConnectedComponents {

  /** `edges` (a, b) undirected, may be asymmetric/partial; `nodes` (node)
    * must cover every vertex (isolated ones included). Returns
    * (node, lbl) where lbl = min node id of the component.
    *
    * Hybrid execution, decided by edge count — the same reasoning that
    * makes Catalyst pick a broadcast join for a small build side:
    *
    *  - `m <= localSolveMaxEdges` (default 1M edges, tens of MB of boxed
    *    rows — comparable to a generous broadcast build side): collect
    *    the EDGE LIST ONLY (never `nodes`, which may be corpus-sized) to
    *    the driver, run union-find there, and broadcast-join the label
    *    map back onto `nodes`. The size test and the collect are ONE
    *    action, `limit(localSolveMaxEdges + 1)`: getting more rows than
    *    the bound is the test, and it stops the collect there. An
    *    iterative distributed loop pays fixed per-round scheduling +
    *    planning overhead — ~20 jobs and seconds of wall clock for a
    *    graph that fits in a few KB (measured at sf0.1: 79 edges, ~6 s
    *    of loop overhead) — while the local solve
    *    is one collect + one broadcast join. Near-dup pair graphs are
    *    almost always in this regime: even at 100 TB corpus scale the
    *    >=0.5-Jaccard pair graph is sparse.
    *  - larger graphs: the distributed min-label + pointer-jumping loop
    *    below, whose shuffle width scales with the edge count (one
    *    partition per ~200k edges, capped at default parallelism) so
    *    huge graphs stay fully parallel while modest ones don't pay
    *    32-partition exchanges per round. The width is applied via
    *    `spark.sql.shuffle.partitions` for the duration of the loop and
    *    restored after (the session is assumed single-query during an
    *    action, which is how Verify/Bench/tests run).
    *
    * Pass `localSolveMaxEdges = -1` to force the distributed loop (tests
    * do, to pin loop semantics on small fixtures).
    *
    * Driver-memory contract of the local path: `localSolveMaxEdges` is a
    * ROW COUNT, not a byte estimate. At the default 2^20 bound the solve
    * collects up to ~1M boxed (a, b) Rows and builds two `HashMap[Any,
    * Any]` — roughly 100-300 MB of driver heap for long ids, and more for
    * wide string ids (budget ~2× the average id width × 3M references).
    * Callers with wide ids or small driver heaps should pass a smaller
    * bound (or -1); the distributed loop needs no driver memory beyond
    * the label frame's broadcast.
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame =
    collectBounded(edges, localSolveMaxEdges) match {
      case Some(collected) => localSolve(nodes, collected)
      case None => loopAtWidth(nodes, edges, maxIter)
    }

  /** The default local-solve bound, in edges. */
  final val LocalSolveMaxEdges: Long = 1L << 20

  /** The edge list (a, b) as driver rows if it holds at most `bound`
    * edges, from one `limit(bound + 1)` collect; None if it holds more or
    * `bound` is negative (the distributed loop forced).
    */
  def collectBounded(edges: DataFrame, bound: Long = LocalSolveMaxEdges)
      : Option[Array[org.apache.spark.sql.Row]] =
    if (bound < 0L) None
    else {
      require(bound < Int.MaxValue,
        s"localSolveMaxEdges must be below ${Int.MaxValue} (a row bound for one collect), got $bound")
      val collected = edges.select(col("a"), col("b")).limit(bound.toInt + 1).collect()
      if (collected.length <= bound) Some(collected) else None
    }

  /** The distributed loop at the width rule's shuffle width, the one place
    * that counts the edges: one partition per ~200k edges, capped at the
    * default parallelism.
    */
  private def loopAtWidth(nodes: DataFrame, edges: DataFrame, maxIter: Int): DataFrame = {
    val spark = nodes.sparkSession
    val m = edges.count()
    val p = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (m / 200000L).toInt + 1))
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try minLabelLoop(spark, nodes, edges, maxIter, p)
    finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  /** `minLabel` for the common pair-graph case where the node set IS the
    * set of edge endpoints (no isolated vertices to cover — the caller
    * handles non-participants itself, e.g. dedup_cluster's left join +
    * coalesce over `documents`). On the local-solve path this is strictly
    * cheaper than `minLabel(endpoints, edges)`: the label set comes
    * straight out of the driver union-find as a LocalRelation — no
    * distributed endpoint union+distinct, no label-attachment join, no
    * cache-materialization count. The driver-bench forensic that motivated
    * it: dedup_cluster's in-suite cost tracks its ACTION count under host
    * contention (every job boundary is scheduling exposure), so the local
    * path drops from count+collect+join+count to one bounded collect. Label
    * data is a driver-local literal, so there is no lineage for a
    * consumer to recompute through (the persist contract is moot).
    * Larger graphs fall through to the distributed loop with
    * participants derived distributively, exactly as before.
    * Driver-memory contract of the local path: same as [[minLabel]]'s —
    * the bound is an edge COUNT, not bytes; size it down for wide ids.
    */
  def minLabelFromEdges(edges: DataFrame, maxIter: Int = 50,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame =
    collectBounded(edges, localSolveMaxEdges) match {
      case Some(collected) => endpointLabels(edges, collected)
      case None =>
        val participants = edges.select(col("a").as("node"))
          .union(edges.select(col("b").as("node"))).distinct()
        loopAtWidth(participants, edges, maxIter)
    }

  /** The local path of [[minLabelFromEdges]]: (node, lbl) over the
    * endpoints of `collected`, the rows [[collectBounded]] returned for
    * `edges`, as a driver-local literal.
    */
  def endpointLabels(edges: DataFrame, collected: Array[org.apache.spark.sql.Row]): DataFrame =
    labelFrame(edges.sparkSession, edges.schema.fields.head, unionFind(collected))

  /** Build the (node, lbl) frame from a finished union-find — the one
    * label-materialization shared by `localSolve` and the
    * `minLabelFromEdges` LocalRelation fast path. */
  private def labelFrame(spark: org.apache.spark.sql.SparkSession,
      nodeField: org.apache.spark.sql.types.StructField,
      uf: (scala.collection.mutable.HashMap[Any, Any],
           scala.collection.mutable.HashMap[Any, Any], Any => Any)): DataFrame = {
    val (parent, minOfRoot, find) = uf
    val schema = org.apache.spark.sql.types.StructType(Seq(
      nodeField.copy(name = "node"), nodeField.copy(name = "lbl")))
    val labelRows: java.util.List[org.apache.spark.sql.Row] =
      new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    parent.keys.foreach { v =>
      labelRows.add(org.apache.spark.sql.Row(v, minOfRoot(find(v))))
    }
    spark.createDataFrame(labelRows, schema)
  }

  /** Shared driver union-find over collected edge rows: returns the
    * parent map, the component-min per root, and the `find` function.
    * The min ordering MUST match what the distributed loop's Spark
    * `min()` would produce (see the comment inside).
    */
  private def unionFind(collected: Array[org.apache.spark.sql.Row])
      : (scala.collection.mutable.HashMap[Any, Any],
         scala.collection.mutable.HashMap[Any, Any], Any => Any) = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    collected.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    // second pass: min member per root. The ordering MUST match what the
    // distributed loop's Spark min() would produce, or the two hybrid
    // paths return different representatives for the same graph: numeric
    // types agree with Comparable, but Spark orders strings by UTF-8
    // BYTES (UTF8String), which differs from Java String.compareTo for
    // supplementary characters — so strings go through UTF8String.
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case (a: java.lang.Number, b: java.lang.Number)
          if a.getClass == b.getClass =>
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      case _ => throw new IllegalArgumentException(
        s"unsupported node id type for connected components: ${x.getClass}")
    }
    val minOfRoot = mutable.HashMap.empty[Any, Any]
    parent.keys.foreach { v =>
      val r = find(v)
      val cur = minOfRoot.get(r)
      if (cur.isEmpty || lt(v, cur.get)) minOfRoot(r) = v
    }
    (parent, minOfRoot, find)
  }

  /** Driver-side union-find over the edge list [[collectBounded]]
    * returned; `nodes` never leaves the cluster. Matches the loop's
    * output contract exactly: (node, lbl = component-min node id), nodes
    * the labels don't cover (isolated vertices) labelling themselves —
    * the loop's self-loop semantics. The label map is broadcast-joined
    * onto `nodes` and the result persisted lazily: the labels are driver
    * literals, so nothing reads the caller's edge lineage again and the
    * consumer's own first action fills the cache.
    */
  private def localSolve(nodes: DataFrame,
      collected: Array[org.apache.spark.sql.Row]): DataFrame = {
    val l = labelFrame(nodes.sparkSession, nodes.schema.fields.head, unionFind(collected))
      .toDF("e_node", "e_lbl")
    // ensureCached: composed queries (dedup_retention then dedup_cluster)
    // re-derive the same label plan in one session — re-persisting an
    // already-cached plan is a CacheManager warning (graft.Caching)
    graft.Caching.ensureCached(nodes.select(col("node"))
      .join(broadcast(l), col("node") === col("e_node"), "left_outer")
      .select(col("node"), coalesce(col("e_lbl"), col("node")).as("lbl")))
  }

  /** Re-wrap a DataFrame as a LogicalRDD so iterative loops keep O(1)
    * plan depth (see the object scaladoc for why this beats
    * localCheckpoint here).
    */
  private def rewrap(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  private def minLabelLoop(spark: org.apache.spark.sql.SparkSession,
      nodes: DataFrame, edges: DataFrame, maxIter: Int, p: Int): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .union(nodes.select(col("node").as("a"), col("node").as("b")))
      .coalesce(p) // narrow the union's inherited partitioning: every
                   // round's map side re-reads this cache
      .persist() // joined every round
    var labels = sym.groupBy("a").agg(min("b").as("lbl"))
      .withColumnRenamed("a", "node").persist()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // propagate: min label over the neighbourhood; the (a, a) self-loop
      // row doubles as the carrier of a's PREVIOUS label, so the change
      // count below needs no join against the old table
      val prop = sym.join(labels, col("b") === col("node"))
        .groupBy("a").agg(
          min("lbl").as("plbl"),
          min(when(col("a") === col("b"), col("lbl"))).as("prev_lbl"))
        .withColumnRenamed("a", "node")
        .persist() // two consumers below (both sides of the shortcut join)
      // shortcut (pointer jumping): lbl(u) := plbl(plbl(u)). Every plbl
      // value is itself a node id present in `prop` (labels are always
      // member ids), so the inner join is total.
      val next = prop
        .join(prop.select(col("node").as("l_node"), col("plbl").as("l_lbl")),
          col("plbl") === col("l_node"))
        .select(col("node"), col("l_lbl").as("lbl"), col("prev_lbl"))
        .persist()
      // the round's one substantive action: materializes the round's
      // caches and counts strict decreases
      val changed = next.filter(col("lbl") < col("prev_lbl")).count()
      // re-wrap as LogicalRDD: O(1) plan depth regardless of round count.
      // Pin the wrapped cache (a micro-job over `next`'s cache) BEFORE
      // retiring the round's intermediates, or the next round would
      // recompute the whole chain through the dropped caches.
      val nextLabels = next.select("node", "lbl")
      val wrapped = rewrap(nextLabels).persist()
      wrapped.count()
      prop.unpersist(blocking = false)
      next.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = wrapped
      converged = changed == 0
      iter += 1
    }
    // labels was materialized by the convergence count; drop the cached
    // edge list (recompute through lineage only on cache eviction)
    sym.unpersist(blocking = false)
    // returning unconverged labels would be SILENTLY wrong output (split
    // components) — fail loudly instead; maxIter bounds log2(diameter),
    // not a best-effort budget
    require(converged,
      s"connected components did not converge within $maxIter rounds — component diameter exceeds 2^$maxIter")
    labels
  }
}
