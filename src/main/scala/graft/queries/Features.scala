package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.functions.ExactRatio.{DuckF, SparkF, bigSum, e6}

/** Feature-engineering and linkage suite: the per-entity rolling features,
  * embedding-space audits, conditional language-model scores and dirty-
  * categorical canonicalization a training pipeline derives on top of the
  * raw corpus. Same parity discipline as Stats/Pipeline: measures snap to
  * integer cents / ×10⁶ integers before any aggregate or window, ln
  * outputs floor-scale with spec-gated ulp margins, and doubles appear
  * only in final presentation expressions with identical shape on both
  * engines.
  */
object Features {

  /** Per-user trailing-1h activity features (count + exact spend sum) —
    * the classic point-in-time-correct rolling feature for a training
    * snapshot. RANGE frame on integer microseconds, so rows with equal
    * timestamps are full peers on both engines regardless of tie order;
    * the summed measure is integer cents (exact, order-independent) and
    * divides to double once at presentation. One window, partitioned on
    * the high-cardinality user key — shards at any scale.
    */
  private val eventsRolling = Q("events_rolling",
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events)
       |SELECT event_id, user_id,
       |  count(*) OVER w AS n_1h,
       |  CAST(sum(vc) OVER w AS DOUBLE) / 100 AS v_1h
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
       |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("v_1h", sum("vc").over(w).cast("double") / 100)
      .select("event_id", "user_id", "n_1h", "v_1h")
      .orderBy("user_id", "event_id")
  }

  /** Per-label embedding centroid audit: mean squared L2 distance of each
    * class's vectors to the class centroid — the compactness score that
    * flags a mislabelled or polluted class. Fully exact until the final
    * division: float32 components quantize to ×10⁶ integers (exact —
    * margins spec-gated), the centroid stays as the UNnormalized integer
    * sum s so each squared deviation Σ_pos (n·v − s)² is exact BIGINT
    * arithmetic (= n²·Σ(v−c)² scaled), and per-label sums accumulate in
    * DECIMAL(38,0). Shape: one combinable aggregate to the |label|×dim
    * centroid table (broadcast back), one to |label| — no shuffle carries
    * a vector.
    */
  private val embeddingCentroid = Q("embedding_centroid",
    s"""WITH raw AS (SELECT vec_id, label, unnest(embedding) AS v,
       |    generate_subscripts(embedding, 1) AS pos FROM embeddings),
       |el AS (SELECT vec_id, label, pos,
       |    CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS ve FROM raw),
       |cent AS (SELECT label, pos, sum(ve) AS s_e6, count(*) AS n
       |  FROM el GROUP BY label, pos),
       |dist AS (SELECT el.vec_id, el.label,
       |    sum(CAST((n * ve - s_e6) * (n * ve - s_e6) AS DECIMAL(38,0))) AS d2
       |  FROM el JOIN cent ON el.label = cent.label AND el.pos = cent.pos
       |  GROUP BY el.vec_id, el.label)
       |SELECT label, count(*) AS n,
       |  CAST(sum(d2) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
       |       * CAST(count(*) AS DOUBLE) * 1e12) AS mean_sq_dist
       |FROM dist GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    val el = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
        expr("cast(floor(cast(col as double) * 1000000 + 0.5) as bigint)").as("ve"))
    val cent = el.groupBy("label", "pos")
      .agg(sum("ve").as("s_e6"), count(lit(1)).as("n"))
    // per-term product fits BIGINT (≤ ~6e16); the per-vector and
    // per-label sums accumulate in DECIMAL(38,0) — exact, and safe from
    // ANSI bigint-overflow at any corpus scale
    val dist = el.join(broadcast(cent), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(expr(bigSum(SparkF, "(n * ve - s_e6) * (n * ve - s_e6)")).as("d2"))
    dist.groupBy("label")
      .agg(count(lit(1)).as("n"), sum("d2").as("sd2"))
      .select(col("label"), col("n"),
        expr("""cast(sd2 as double)
                / (cast(n as double) * cast(n as double) * cast(n as double) * 1e12)""")
          .as("mean_sq_dist"))
      .orderBy("label")
  }

  /** Conditional bigram language-model score: each doc's mean
    * log-probability of its token bigrams under the per-language corpus
    * bigram model, ln(c(w₁w₂)/c_first(w₁)) — the sequel to
    * text_unigram_logprob that actually scores word ORDER. Same exact-
    * integer discipline: per-bigram log-probs floor-scale to ×10⁶
    * integers (margins spec-gated) before the per-doc sum; only the final
    * mean divides in double. The bigram model table is vocab²-bounded and
    * broadcasts onto the bigram stream; bigram extraction is map-only
    * (sequence + element_at, no UDF).
    */
  private val textBigramLogprob = Q("text_bigram_logprob",
    s"""WITH docs AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
       |    FROM documents),
       |ix AS (SELECT doc_id, lang, w,
       |    unnest(generate_series(1, len(w) - 1)) AS i FROM docs),
       |bg AS (SELECT doc_id, lang, w[CAST(i AS INTEGER)] AS w1,
       |    w[CAST(i AS INTEGER) + 1] AS w2 FROM ix),
       |bc AS (SELECT lang, w1, w2, count(*) AS cb FROM bg GROUP BY lang, w1, w2),
       |fc AS (SELECT lang, w1, sum(cb) AS cf FROM bc GROUP BY lang, w1),
       |lp AS (SELECT bc.lang, bc.w1, bc.w2,
       |    CAST(floor(ln(CAST(cb AS DOUBLE) / CAST(cf AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lp_e6
       |  FROM bc JOIN fc ON bc.lang = fc.lang AND bc.w1 = fc.w1)
       |SELECT bg.doc_id, count(*) AS n_bg,
       |  CAST(sum(lp_e6) AS BIGINT) AS logp_sum_e6,
       |  CAST(CAST(sum(lp_e6) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS avg_logp
       |FROM bg JOIN lp ON bg.lang = lp.lang AND bg.w1 = lp.w1 AND bg.w2 = lp.w2
       |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin) { (s, d) =>
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        split(lower(col("text")), " ").as("w"))
      // guard: Spark's sequence(1, 0) DESCENDS ([1,0] — element_at(w,0)
      // then throws under ANSI); single-token docs must drop here, which
      // also matches DuckDB's empty generate_series(1, 0)
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin))
        .as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.w1"), col("bg.w2"))
    // first-word totals as a window over the bigram vocab domain
    // (bounded), not a separate aggregate joined back — the model pass
    // reads documents ONCE; only the scoring join pays the second
    // tokenization (r17 scan audit: 3 scans -> 2)
    val bc = bg.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cb"))
    val lp = bc
      .withColumn("cf", sum("cb").over(Window.partitionBy("lang", "w1")))
      .withColumn("lp_e6", expr(
        "cast(floor(ln(cast(cb as double) / cast(cf as double)) * 1000000.0d + 0.5d) as bigint)"))
      .select("lang", "w1", "w2", "lp_e6")
    bg.join(broadcast(lp), Seq("lang", "w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bg"), sum("lp_e6").as("logp_sum_e6"))
      .withColumn("avg_logp",
        expr("cast(logp_sum_e6 as double) / (cast(n_bg as double) * 1000000.0d)"))
      .orderBy("doc_id")
  }


  /** Shared blocked-levenshtein pair builder over the DISTINCT part-name
    * table (vocabulary-bounded) for [[dedupNameVariants]] (maxDist 2 —
    * conservative linkage) and [[triangleCount]] (maxDist 3 — the looser
    * graph where motifs exist). Head-noun blocking keeps the join
    * shuffle-parallel and never all-pairs. Returns (names, edges a<b).
    */
  private def variantEdges(s: SparkSession, d: String,
      maxDist: Int): (DataFrame, DataFrame) = {
    val names = Tables.part(s, d).select(col("p_name")).distinct()
    val withNoun = names.withColumn("noun", element_at(split(col("p_name"), " "), -1))
    // banded distance: the 3-arg levenshtein computes only a 2·maxDist+1
    // band of the DP matrix and returns -1 past the threshold —
    // O(maxDist·len) per pair instead of O(len²), the form that holds
    // when the blocked candidate set is huge. A length-gap prefilter
    // (|len(a)−len(b)| ≤ maxDist implies nothing about the band result
    // but is necessary for distance ≤ maxDist) runs first in codegen so
    // most pairs never reach the DP at all. -1 sorts below every
    // threshold, so the predicate must exclude it explicitly.
    val lv = levenshtein(col("a.p_name"), col("b.p_name"), maxDist)
    val edges = withNoun.as("a").join(withNoun.as("b"),
        col("a.noun") === col("b.noun") &&
          col("a.p_name") < col("b.p_name") &&
          abs(length(col("a.p_name")) - length(col("b.p_name"))) <= maxDist &&
          lv >= 0 && lv <= maxDist)
      .select(col("a.p_name").as("a"), col("b.p_name").as("b"))
    (names, edges)
  }

  /** DuckDB twin of [[variantEdges]] — n (distinct names) + e (a<b pairs). */
  private def variantEdgesCte(maxDist: Int): String =
    s"""n AS (SELECT DISTINCT p_name FROM part),
       |e AS (SELECT a.p_name AS a, b.p_name AS b FROM n a JOIN n b
       |  ON string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
       |  AND a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= $maxDist)""".stripMargin

  /** Dirty-categorical canonicalization: cluster near-identical part
    * names (levenshtein ≤ 2, blocked on the head noun so the pair join is
    * never all-pairs) with [[graft.operators.ConnectedComponents]] and
    * report each canonical name's variant and row counts — the
    * record-linkage normalization every entity column needs before
    * joining. The clustering runs on the DISTINCT-name table (vocabulary-
    * bounded, not data-bounded); rows join back to their canonical via
    * the broadcast label map. Canonical = lexicographic min of the
    * cluster on both engines (Spark UTF8String order == DuckDB binary
    * order on these ASCII names).
    */
  private val dedupNameVariants = Q("dedup_name_variants",
    s"""WITH RECURSIVE ${variantEdgesCte(2)},
       |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e
       |  UNION SELECT p_name, p_name FROM n),
       |reach(node, r) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
       |lbl AS (SELECT node, min(r) AS canonical FROM reach GROUP BY node)
       |SELECT lbl.canonical, count(DISTINCT p.p_name) AS n_variants,
       |  count(*) AS n_parts
       |FROM part p JOIN lbl ON p.p_name = lbl.node
       |GROUP BY lbl.canonical ORDER BY lbl.canonical""".stripMargin) { (s, d) =>
    val (names, edges) = variantEdges(s, d, maxDist = 2)
    val labels = graft.operators.ConnectedComponents
      .minLabel(names.select(col("p_name").as("node")), edges)
    Tables.part(s, d).select("p_name")
      .join(labels, col("p_name") === col("node"))
      .groupBy(col("lbl").as("canonical"))
      .agg(countDistinct("p_name").as("n_variants"), count(lit(1)).as("n_parts"))
      .orderBy("canonical")
  }

  /** Triangle count per node over the lev ≤ 3 variant graph (LOOSER
    * than dedup_name_variants' lev ≤ 2 canonicalization graph, which is
    * triangle-free on this fixture) — the motif diagnostic that separates
    * chained variant clusters (paths) from densely-confusable ones
    * (triangles). Edges come from the shared [[variantEdges]] builder on
    * the DISTINCT-name table (vocabulary-bounded); triangles enumerate via two equi-joins
    * over the oriented (a < b) edge list, so no row explosion beyond the
    * motif count itself. At data-bounded graph sizes the standard
    * degree-ordering optimization applies unchanged — orientation by
    * (degree, id) instead of id — without altering this plan shape.
    */
  private val triangleCount = Q("triangle_count",
    s"""WITH ${variantEdgesCte(3)},
       |tri AS (SELECT e1.a, e1.b, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT node, count(*) AS n_tri FROM (
       |  SELECT a AS node FROM tri UNION ALL
       |  SELECT b FROM tri UNION ALL
       |  SELECT c FROM tri) t
       |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
    // the triangle join consumes e THREE times; all three read the edge
    // list through one exchange that Spark reuses, so the banded
    // levenshtein self-join runs once without a cache;
    // explode(array(…)) replaces the 3× unionAll of tri so the triangle
    // join itself also runs once, not three times
    val e = variantEdges(s, d, maxDist = 3)._2
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .orderBy("node")
  }

  /** Min-max feature scaling of event values within each event type — the
    * canonical [0,1] normalizer for model features. Values snap to cents;
    * the per-type min/max (a combinable aggregate) broadcasts back; the
    * one division (vc−min)/(max−min) runs on exact integers with
    * identical shape on both engines. Constant-valued groups are defined
    * to scale to 0 (the CASE guard, not NULL/NaN — deterministic and
    * join-safe downstream).
    */
  private val scaleMinmax = Q("scale_minmax",
    s"""WITH e AS (SELECT event_id, event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |st AS (SELECT event_type, min(vc) AS lo, max(vc) AS hi
       |  FROM e GROUP BY event_type)
       |SELECT event_id, e.event_type,
       |  CASE WHEN hi = lo THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(vc - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE) END AS v_scaled
       |FROM e JOIN st ON e.event_type = st.event_type
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
    val st = e.groupBy("event_type").agg(min("vc").as("lo"), max("vc").as("hi"))
    e.join(broadcast(st), "event_type")
      .select(col("event_id"), col("event_type"),
        expr("""case when hi = lo then cast(0 as double)
                else cast(vc - lo as double) / cast(hi - lo as double) end""")
          .as("v_scaled"))
      .orderBy("event_id")
  }

  /** Hour-of-day activity profile per event type — the load/seasonality
    * matrix behind traffic-aware sampling. The hour derives from integer
    * µs arithmetic ((ts_us div 3600e6) mod 24 — UTC by construction, no
    * timezone or locale function anywhere near the oracle; DuckDB `//`
    * and `%` on BIGINT truncate/follow-dividend exactly like Spark's
    * `div`/`%`, verified, so parity holds for any timestamp sign),
    * counts and
    * cents sums are exact, and the output is a bounded \|types\|×24
    * matrix from one combinable aggregate.
    */
  private val eventsHourlyProfile = Q("events_hourly_profile",
    s"""SELECT event_type,
       |  CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER) AS hour_utc,
       |  count(*) AS n,
       |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS v_sum
       |FROM events GROUP BY event_type, hour_utc
       |ORDER BY event_type, hour_utc""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        expr("cast((ts_us div 3600000000) % 24 as int)").as("hour_utc"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .groupBy("event_type", "hour_utc")
      .agg(count(lit(1)).as("n"),
        expr("cast(sum(vc) as double) / 100").as("v_sum"))
      .orderBy("event_type", "hour_utc")
  }


  /** Empirical-CDF feature transform: each event's value mapped to its
    * within-type cumulative probability P(V ≤ v) — the rank normalizer
    * that is robust where min-max scaling is not. The heavy stream only
    * ever feeds a combinable (type, cents) count; the cumulative runs on
    * the VALUE-DOMAIN table (bounded by the cents domain, not the data —
    * ≤ 49k rows per type here and forever), partitioned per type; the
    * resulting CDF table broadcasts back onto the stream. cum and n are
    * exact integers; the one division is shape-identical on both engines.
    */
  private val featureCdf = Q("feature_cdf",
    s"""WITH e AS (SELECT event_id, event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |vcnt AS (SELECT event_type, vc, count(*) AS c FROM e
       |  GROUP BY event_type, vc),
       |cdf AS (SELECT event_type, vc,
       |    sum(c) OVER (PARTITION BY event_type ORDER BY vc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY event_type) AS nt
       |  FROM vcnt)
       |SELECT event_id, e.event_type,
       |  CAST(cum AS DOUBLE) / CAST(nt AS DOUBLE) AS cdf
       |FROM e JOIN cdf ON e.event_type = cdf.event_type AND e.vc = cdf.vc
       |ORDER BY event_id""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
    val vcnt = e.groupBy("event_type", "vc").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("event_type").orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val cdf = vcnt
      .withColumn("cum", sum("c").over(wOrd))
      .withColumn("nt", sum("c").over(wAll))
      .select(col("event_type"), col("vc"),
        expr("cast(cum as double) / cast(nt as double)").as("cdf"))
    e.join(broadcast(cdf), Seq("event_type", "vc"))
      .select("event_id", "event_type", "cdf")
      .orderBy("event_id")
  }


  /** Time-weighted average of each user's event value — the irregular-
    * time-series aggregate where a plain mean is wrong (a value that held
    * for an hour must weigh 60× one that held a minute). Each value holds
    * until the user's NEXT event (lead window); the weighted sum is exact
    * DECIMAL arithmetic over cents × µs integer products (≤ ~2e14 per
    * term — far inside BIGINT, accumulated in DECIMAL(38,0) for any
    * scale); the single division happens once, in double, with identical
    * shape on both engines. Users with one event (no held interval) drop
    * out on both sides via the NULL lead. One (user_id) exchange.
    */
  private val eventsTwa = Q("events_twa",
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |held AS (SELECT user_id, vc, ts_us, event_id,
       |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt
       |  FROM e)
       |SELECT user_id, count(*) AS n_held,
       |  CAST(CAST(sum(CAST(vc * (nxt - ts_us) AS DECIMAL(38,0))) AS DOUBLE)
       |    / CAST(sum(CAST(nxt - ts_us AS DECIMAL(38,0))) AS DOUBLE) / 100 AS DOUBLE)
       |    AS twa
       |FROM held WHERE nxt IS NOT NULL
       |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .withColumn("nxt", lead("ts_us", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_held"),
        expr(bigSum(SparkF, "vc * (nxt - ts_us)")).as("wsum"),
        expr(bigSum(SparkF, "nxt - ts_us")).as("tsum"))
      .select(col("user_id"), col("n_held"),
        expr("cast(cast(wsum as double) / cast(tsum as double) / 100 as double)").as("twa"))
      .orderBy("user_id")
  }



  /** Shared basket builder for [[basketPairs]] / [[basketLift]]: per-order
    * sorted distinct part-type arrays (head noun of p_name; part dim
    * broadcast). Cached lazily: basket_lift consumes it from three
    * subtrees, and the first one's stage fills the cache for the other
    * two; without a cache each subtree re-runs the lineitem aggregate
    * (basket_lift's written shuffle records 1685 -> 3011 at sf0.001). The
    * caller contract is the usual graft.Caching one (harness clearCache
    * retires it).
    */
  private def baskets(s: SparkSession, d: String): DataFrame = {
    val b = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), element_at(split(col("p_name"), " "), -1).as("typ"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("l_orderkey")
      .agg(expr("array_sort(array_distinct(collect_list(typ)))").as("ts"))
    graft.Caching.ensureCached(b)
  }

  /** The pair-explosion expression both basket ops share. The outer
    * sequence stops at size-1 so the inner sequence(i+1, size) never
    * DESCENDS (Spark's sequence descends when start > stop and
    * element_at(ts, size+1) would throw under ANSI — the
    * text_bigram_logprob trap); callers must filter size(ts) >= 2 first
    * for the same reason.
    */
  private val pairExplodeExpr =
    """flatten(transform(sequence(1, size(ts) - 1),
      |  i -> transform(sequence(i + 1, size(ts)),
      |    j -> struct(element_at(ts, i) as a, element_at(ts, j) as b))))""".stripMargin

  /** DuckDB twin of the basket CTEs (li + b). */
  private val basketCte =
    s"""li AS (SELECT l_orderkey,
       |    string_split(p.p_name, ' ')[-1] AS typ
       |  FROM lineitem JOIN part p ON l_partkey = p.p_partkey),
       |b AS (SELECT l_orderkey, list_sort(list_distinct(list(typ))) AS ts
       |  FROM li GROUP BY l_orderkey)""".stripMargin

  /** Market-basket affinity: co-occurrence counts of part-type pairs
    * (the head noun of p_name) inside one order — the association-mining
    * primitive behind "frequently bought together". The pair explosion is
    * bounded by basket size (≤ |lineitems per order|², itself bounded by
    * order semantics, never by corpus size); the part dimension
    * broadcasts; pair counts combine map-side. Distinct types per order
    * (list_distinct) keep a multi-line item from inflating its own pair.
    */
  private val basketPairs = Q("basket_pairs",
    s"""WITH $basketCte,
       |ix AS (SELECT ts, unnest(generate_series(1, len(ts))) AS i FROM b),
       |pairs AS (SELECT ts[CAST(i AS INTEGER)] AS a, ts[CAST(j AS INTEGER)] AS b
       |  FROM (SELECT ts, i, unnest(generate_series(CAST(i AS INTEGER) + 1, len(ts))) AS j
       |        FROM ix))
       |SELECT a, b, count(*) AS n_orders FROM pairs
       |GROUP BY a, b ORDER BY n_orders DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    baskets(s, d).filter(size(col("ts")) >= 2)
      .select(explode(expr(pairExplodeExpr)).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Revenue concentration per nation: the Gini coefficient of customer
    * revenue — the inequality audit behind "is this market a few whales".
    * Fully exact until the final division: revenue is cents (BIGINT), the
    * rank is a per-nation window under a TOTAL order (revenue, custkey),
    * and the Gini numerator/denominator accumulate Σ rank·x and Σ x in
    * DECIMAL (rank and cents each cast to DECIMAL BEFORE the multiply, so
    * the product is exact past the 2⁶³ line a bigint rank·cents product
    * would cross at extreme scale). G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) with the same
    * expression shape on both engines. Windows partition on nation;
    * nothing global.
    */
  private val revenueGini = Q("revenue_gini",
    s"""WITH cr AS (SELECT c_nationkey AS nat, o_custkey,
       |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY c_nationkey, o_custkey),
       |r AS (SELECT nat, x,
       |    row_number() OVER (PARTITION BY nat ORDER BY x, o_custkey) AS i
       |  FROM cr),
       |g AS (SELECT nat, count(*) AS n,
       |    sum(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS six,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx
       |  FROM r GROUP BY nat)
       |SELECT nat, n,
       |  (CAST(2 AS DOUBLE) * CAST(six AS DOUBLE)
       |    - (CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) * CAST(sx AS DOUBLE))
       |   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
       |FROM g ORDER BY nat""".stripMargin) { (s, d) =>
    val cr = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nat"), col("o_custkey"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("x"))
    cr.withColumn("i", row_number().over(
        Window.partitionBy("nat").orderBy("x", "o_custkey")))
      .groupBy("nat")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(i as decimal(19,0)) * cast(x as decimal(19,0))")).as("six"),
        expr(bigSum(SparkF, "x")).as("sx"))
      .select(col("nat"), col("n"),
        expr("""(cast(2 as double) * cast(six as double)
                - (cast(n as double) + cast(1 as double)) * cast(sx as double))
               / (cast(n as double) * cast(sx as double))""").as("gini"))
      .orderBy("nat")
  }


  /** Association-rule statistics over the basket pairs: support,
    * confidence and lift for every co-occurring part-type pair — the
    * numbers that turn co-occurrence counts into "actually correlated".
    * All counts are exact integers off two combinable aggregates (pair
    * baskets and single-type baskets, the singles table broadcast back);
    * the three ratios divide once each in double with identical
    * expression shape. Lift > 1 ⇔ n·c(ab) > c(a)·c(b) stays available as
    * an exact-integer test; the reported doubles are presentation.
    */
  private val basketLift = Q("basket_lift",
    s"""WITH $basketCte,
       |n AS (SELECT count(*) AS n_baskets FROM b),
       |singles AS (SELECT t, count(*) AS c1
       |  FROM (SELECT unnest(ts) AS t FROM b) GROUP BY t),
       |ix AS (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM b
       |       WHERE len(ts) >= 2),
       |pairs AS (SELECT ts[CAST(i AS INTEGER)] AS a, ts[CAST(j AS INTEGER)] AS b
       |  FROM (SELECT ts, i, unnest(generate_series(CAST(i AS INTEGER) + 1, len(ts))) AS j
       |        FROM ix)),
       |pc AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY a, b)
       |SELECT pc.a, pc.b, cab,
       |  CAST(cab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
       |  CAST(cab AS DOUBLE) / CAST(sa.c1 AS DOUBLE) AS confidence,
       |  (CAST(n_baskets AS DOUBLE) * CAST(cab AS DOUBLE))
       |    / (CAST(sa.c1 AS DOUBLE) * CAST(sb.c1 AS DOUBLE)) AS lift
       |FROM pc JOIN singles sa ON pc.a = sa.t JOIN singles sb ON pc.b = sb.t
       |CROSS JOIN n ORDER BY pc.a, pc.b""".stripMargin) { (s, d) =>
    val b = baskets(s, d) // plan-cached: three subtrees consume it
    val n = b.agg(count(lit(1)).as("n_baskets"))
    val singles = b.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val pc = b.filter(size(col("ts")) >= 2)
      .select(explode(expr(pairExplodeExpr)).as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    pc.join(broadcast(singles.toDF("t", "ca")), col("a") === col("t")).drop("t")
      .join(broadcast(singles.toDF("t2", "cb")), col("b") === col("t2")).drop("t2")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab"),
        expr("cast(cab as double) / cast(n_baskets as double)").as("support"),
        expr("cast(cab as double) / cast(ca as double)").as("confidence"),
        expr("""(cast(n_baskets as double) * cast(cab as double))
                / (cast(ca as double) * cast(cb as double))""").as("lift"))
      .orderBy("a", "b")
  }

  /** Daily/weekly active users and the DAU/WAU stickiness ratio — the
    * canonical engagement report. The heavy stream reduces to the
    * distinct (day, user) table in ONE combinable aggregate; day and ISO
    * week derive by pure integer µs arithmetic (epoch day 0 = a Thursday,
    * so week = (day + 3) div 7 starts buckets on Mondays — the same
    * constant on both engines, no calendar function). mean_dau averages
    * over the week's ACTIVE days (days with ≥ 1 event) — the denominator
    * choice is deliberate and shared by both engines; partial and quiet
    * weeks therefore do not dilute the ratio. Per-week averages divide
    * once in double.
    */
  private val eventsDauWau = Q("events_dau_wau",
    s"""WITH du AS (SELECT DISTINCT
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx, user_id
       |  FROM events),
       |dau AS (SELECT day_idx, count(*) AS dau FROM du GROUP BY day_idx),
       |wau AS (SELECT (day_idx + 3) // 7 AS week_idx, count(DISTINCT user_id) AS wau
       |  FROM du GROUP BY week_idx)
       |SELECT wau.week_idx, wau,
       |  CAST(sum(dau) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_dau,
       |  CAST(sum(dau) AS DOUBLE) / CAST(count(*) AS DOUBLE) / CAST(wau AS DOUBLE)
       |    AS stickiness
       |FROM dau JOIN wau ON (dau.day_idx + 3) // 7 = wau.week_idx
       |GROUP BY wau.week_idx, wau ORDER BY wau.week_idx""".stripMargin) { (s, d) =>
    val du = Tables.events(s, d)
      .select(expr("cast(ts_us div 86400000000 as bigint)").as("day_idx"), col("user_id"))
      .distinct()
    val dau = du.groupBy("day_idx").agg(count(lit(1)).as("dau"))
    val wau = du.groupBy(expr("(day_idx + 3) div 7").as("week_idx"))
      .agg(countDistinct("user_id").as("wau"))
    dau.withColumn("week_idx", expr("(day_idx + 3) div 7"))
      .join(broadcast(wau), "week_idx")
      .groupBy("week_idx", "wau")
      .agg(expr("cast(sum(dau) as double) / cast(count(1) as double)").as("mean_dau"),
        expr("cast(sum(dau) as double) / cast(count(1) as double) / cast(wau as double)")
          .as("stickiness"))
      .select("week_idx", "wau", "mean_dau", "stickiness")
      .orderBy("week_idx")
  }

  /** Daily OHLC downsample of the event value stream per type — the
    * canonical time-series compaction (open/high/low/close + volume) that
    * turns an unbounded event log into a bounded |types|×|days| summary
    * for dashboards and features. Exactness: values snap to integer
    * cents; open/close are selected by row_number over the total
    * (ts_us, event_id) order — event_id breaks ts collisions, so first
    * and last are engine-deterministic, never min_by/arg_min whose tie
    * policy is engine-specific. Shape: both window passes and the final
    * aggregate share ONE (event_type, day_idx) hash exchange (the windows
    * sort within partitions; no global sort), and the aggregate is
    * combinable — scale-safe at any event volume.
    */
  private val eventsOhlc = Q("events_ohlc",
    s"""WITH e AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
       |    epoch_us(ts) AS ts_us, event_id,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |r AS (SELECT event_type, day_idx, vc,
       |    row_number() OVER (PARTITION BY event_type, day_idx
       |      ORDER BY ts_us, event_id) AS rn_a,
       |    row_number() OVER (PARTITION BY event_type, day_idx
       |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
       |  FROM e)
       |SELECT event_type, day_idx, count(*) AS n,
       |  max(CASE WHEN rn_a = 1 THEN vc END) AS open_c,
       |  max(vc) AS high_c, min(vc) AS low_c,
       |  max(CASE WHEN rn_d = 1 THEN vc END) AS close_c
       |FROM r GROUP BY event_type, day_idx
       |ORDER BY event_type, day_idx""".stripMargin) { (s, d) =>
    val wa = Window.partitionBy("event_type", "day_idx")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val wd = Window.partitionBy("event_type", "day_idx")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(ts_us div 86400000000 as bigint)").as("day_idx"),
        col("ts_us"), col("event_id"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy("event_type", "day_idx")
      .agg(count(lit(1)).as("n"),
        max(expr("case when rn_a = 1 then vc end")).as("open_c"),
        max("vc").as("high_c"), min("vc").as("low_c"),
        max(expr("case when rn_d = 1 then vc end")).as("close_c"))
      .orderBy("event_type", "day_idx")
  }

  /** Time-series gap fill with forward carry (resample + ffill): the
    * hourly value stream per event type is re-gridded onto the complete
    * [min, max] hour domain and each missing cell carries the last observed
    * value forward — the regularization step before any fixed-step model
    * consumes an irregular stream. Leading cells before a type's first
    * observation stay NULL on both engines. Shape: the unbounded event
    * stream collapses FIRST via one combinable (type, hour) aggregate;
    * the domain table is |types|×|hours| (time-bounded, not data-bounded),
    * built from a 1-row broadcast of the global bounds; the fill window
    * partitions per type over that bounded grid. Hour sums are exact
    * cents BIGINTs.
    */
  private val resampleFfill = Q("resample_ffill",
    s"""WITH hourly AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
       |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
       |  FROM events GROUP BY event_type, hr),
       |b AS (SELECT CAST(min(hr) AS BIGINT) AS lo, CAST(max(hr) AS BIGINT) AS hi
       |  FROM hourly),
       |dom AS (SELECT t.event_type, d.hr
       |  FROM (SELECT DISTINCT event_type FROM hourly) t
       |  CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b),
       |    (SELECT hi FROM b))) AS hr) d),
       |j AS (SELECT dom.event_type, dom.hr, hourly.v
       |  FROM dom LEFT JOIN hourly USING (event_type, hr))
       |SELECT event_type, hr, v IS NOT NULL AS observed,
       |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
       |FROM j ORDER BY event_type, hr""".stripMargin) { (s, d) =>
    val hourly = graft.Caching.ensureCached(Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(ts_us div 3600000000 as bigint)").as("hr"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .groupBy("event_type", "hr").agg(sum("vc").as("v")))
    val b = hourly.agg(min("hr").as("lo"), max("hr").as("hi"))
    val dom = hourly.select("event_type").distinct()
      .crossJoin(broadcast(b))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("hr"))
    val w = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dom.join(hourly, Seq("event_type", "hr"), "left_outer")
      .select(col("event_type"), col("hr"), col("v").isNotNull.as("observed"),
        last(col("v"), ignoreNulls = true).over(w).as("filled"))
      .orderBy("event_type", "hr")
  }

  /** Deterministic ±1 Johnson–Lindenstrauss projection 64 → 8 dims in
    * exact integer space — the map-only dimensionality reduction that
    * turns a 100 TB embedding corpus into a 8× smaller sketch before
    * clustering/ANN. The plane entry sign(i,j) is the top bit of the
    * Knuth multiplicative hash of the plane index (i·64+j+1)·2654435761
    * mod 2³² — pure integer arithmetic, identical on both engines, no
    * RNG (measured balanced: 256 of 512 entries positive); components
    * are the usual ×10⁶ quantized BIGINTs, so each projected coordinate
    * is an exact integer sum. Zero shuffle, zero joins — one codegen'd
    * projection; the final ORDER BY is presentation only.
    */
  private val embeddingProject = Q("embedding_project",
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |p AS (SELECT vec_id,
       |  list_transform(generate_series(0, 7), i ->
       |    CAST(list_sum(list_transform(generate_series(0, 63), j ->
       |      (CASE WHEN ((i * 64 + j + 1) * 2654435761) % 4294967296 < 2147483648
       |        THEN 1 ELSE -1 END) * qv[j + 1])) AS BIGINT)) AS proj
       |  FROM v)
       |SELECT vec_id, array_to_string(proj, ',') AS proj,
       |  CAST(list_sum(proj) AS BIGINT) AS proj_sum
       |FROM p ORDER BY vec_id""".stripMargin) { (s, d) =>
    // The Spark side inlines the ±1 planes as LITERAL signed terms (one
    // flat codegen'd expression, 512 add/subs): the semantically
    // identical nested-HOF form (aggregate inside transform, hash
    // computed per element) measured 11.98 s at sf0.1 — non-codegen
    // lambda evaluation per (row, i, j) — vs sub-second flat. The
    // literals come from jlSign, the same formula the oracle evaluates
    // in SQL; FeaturesSpec re-derives the hash against the output, so
    // the two formula copies cannot drift silently.
    val projExpr = "array(" + (0 until 8).map { i =>
      (0 until 64).map { j =>
        val sign = if (jlSign(i, j) > 0) "+" else "-"
        s"$sign element_at(qv, ${j + 1})"
      }.mkString(" ").stripPrefix("+ ")
    }.mkString(", ") + ")"
    // §7.3 rule 5: the 8-coordinate vector leaves the engine comma-joined
    // (BIGINT→string renders identically in both engines, sign included) so
    // the driver's pandas comparator can hash it; proj_sum alone would not
    // pin the vector. The intermediate stays a real array column.
    Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))")
        .as("qv"))
      .select(col("vec_id"), expr(projExpr).as("proj"))
      .select(col("vec_id"),
        expr("array_join(transform(proj, x -> cast(x as string)), ',')").as("proj"),
        expr("aggregate(proj, cast(0 as bigint), (acc, x) -> acc + x)").as("proj_sum"))
      .orderBy("vec_id")
  }

  /** Sign of JL plane (i, j): top bit of the Knuth multiplicative hash of
    * the plane index — planes 0–7 of the shared deterministic family in
    * [[graft.multimodal.Multimodal.planeSign]] (which the LSH ANN keys
    * extend to 24), behind embedding_project's Spark literals and (as
    * inline SQL) its DuckDB oracle. */
  private def jlSign(i: Int, j: Int): Long =
    graft.multimodal.Multimodal.planeSign(i, j)

  /** DuckDB twin of the 5-iteration PageRank loop: nested CTEs it0..it5,
    * each computing r' = (15·S)//(100·n) + (85·Σ_{u→v} r(u)//deg(u))//100
    * from the previous iteration — generated by the same loop count as
    * the Spark side so the twins cannot drift. */
  private val pagerankOracle: String = {
    val iters = (1 to 5).map { k =>
      s"""it$k AS (SELECT n.p_name AS node,
         |    (15000000000000 // (100 * c.n_cnt)) + (85 * COALESCE(s.s, 0)) // 100 AS r
         |  FROM n CROSS JOIN c LEFT JOIN (
         |    SELECT sym.b AS node, CAST(sum(it${k - 1}.r // deg.deg) AS BIGINT) AS s
         |    FROM sym JOIN it${k - 1} ON sym.a = it${k - 1}.node JOIN deg ON deg.a = sym.a
         |    GROUP BY sym.b) s ON s.node = n.p_name)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${variantEdgesCte(2)},
       |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_cnt FROM n),
       |it0 AS (SELECT p_name AS node, 1000000000000 // c.n_cnt AS r FROM n CROSS JOIN c),
       |$iters
       |SELECT node AS p_name, r AS pr5 FROM it5 ORDER BY p_name""".stripMargin
  }

  /** Fixed-iteration PageRank (5 rounds, damping 0.85) over the lev ≤ 2
    * name-variant graph — the graph-centrality analytic that ranks which
    * canonical entities dominate a dirty-categorical column. Execution is
    * [[graft.operators.Pagerank]]'s hybrid: the name-variant graph is
    * vocab-bounded (the broadcast-equivalent regime), so it solves on the
    * driver in the same exact integer arithmetic as the operator's
    * distributed fixed-point loop — both paths and the DuckDB oracle are
    * bit-identical by construction (truncating division of the integer
    * mass S = 10¹² everywhere; ScaleSpec pins local == forced-loop).
    */
  private val graphPagerank = Q("graph_pagerank", pagerankOracle) { (s, d) =>
    val (names, edges) = variantEdges(s, d, maxDist = 2)
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    graft.operators.Pagerank
      .fixedRounds(names.select(col("p_name").as("node")), sym, rounds = 5)
      .select(col("node").as("p_name"), col("r").as("pr5")).orderBy("p_name")
  }

  /** Sparse tf-idf cosine similarity between customers over their RARE
    * purchased parts (bought by 2-20 distinct customers) — the
    * collaborative-filtering "who buys like whom" operator, and the
    * sparse-feature member of the similarity family (dense cosine =
    * `sim_cosine_topk`, set-Jaccard = `dedup_fuzzy`). Weights are the
    * text_keyword_extract discipline: idf floor-scaled to exact ×10⁵
    * FIRST, then multiplied by the integer purchase count, so every dot
    * product and norm is an exact BIGINT sum (order-independent — a
    * double Σ across the aggregation would hash-differ). The cos ≥ 0.5
    * gate is the cross-multiplied integer predicate 4·num² ≥ na·nb in
    * DECIMAL(38,0) — no double ever decides membership; cos6 is
    * presentation only, and the pair must share ≥ 2 rare parts (one
    * shared singleton part trivially scores 1.0).
    *
    * Scale shape: the ONLY pair-forming step is a per-part
    * collect_list + map-side pair explode over the df-capped part key —
    * list ≤ 20 entries, fan-out ≤ df(df+1)/2 ≤ 210 per part (i ≤ j:
    * the diagonal self-pairs carry the norms), linear in parts, never
    * all-pairs over customers (the dedup_fuzzy / basket_pairs
    * discipline; r18 replaced a w⋈w self-join, r19 folded the df cap
    * into the same groupBy and moved the norm windows onto the
    * aggregated pair frame). Everything else is combinable aggregates;
    * the norms ride the diagonal of the pair aggregate. Int64
    * bound: norm² ≤ (idfmax_e5 · Σtf)² — holds to idfmax·L ≈ 3×10⁹
    * weight-mass per customer; past that the two sums move to
    * DECIMAL(38,0) without changing shape.
    */
  private val simSparseCosine = Q("sim_sparse_cosine",
    s"""WITH cp AS (SELECT o.o_custkey AS c, l.l_partkey AS p,
       |    CAST(count(*) AS BIGINT) AS tf
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  GROUP BY c, p),
       |dfs AS (SELECT p, CAST(count(*) AS BIGINT) AS df FROM cp GROUP BY p),
       |nc AS (SELECT CAST(count(DISTINCT c) AS BIGINT) AS n FROM cp),
       |w AS (SELECT c, cp.p, CAST(cp.tf * CAST(floor(
       |      ln((CAST(n AS DOUBLE) + CAST(1 AS DOUBLE))
       |        / (CAST(df AS DOUBLE) + CAST(1 AS DOUBLE)))
       |      * CAST(100000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
       |    AS BIGINT) AS w
       |  FROM cp JOIN dfs ON dfs.p = cp.p CROSS JOIN nc
       |  WHERE df BETWEEN 2 AND 20),
       |nrm AS (SELECT c, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY c),
       |pr AS (SELECT a.c AS ca, b.c AS cb, CAST(count(*) AS BIGINT) AS nsh,
       |    CAST(sum(a.w * b.w) AS BIGINT) AS num
       |  FROM w a JOIN w b ON b.p = a.p AND a.c < b.c GROUP BY ca, cb)
       |SELECT cust_a, cust_b, n_shared, dot_e10, norm2_a, norm2_b, cos2_e6
       |FROM ${graft.functions.ExactRatio.applyDuck(
        """SELECT pr.ca AS cust_a, pr.cb AS cust_b, nsh AS n_shared,
          |  num AS dot_e10, na.n2 AS norm2_a, nb.n2 AS norm2_b
          |FROM pr JOIN nrm na ON na.c = pr.ca JOIN nrm nb ON nb.c = pr.cb
          |WHERE nsh >= 2 AND na.n2 > 0 AND nb.n2 > 0
          |  AND 4 * (CAST(num AS DECIMAL(38,0)) * num) >= CAST(na.n2 AS DECIMAL(38,0)) * nb.n2""".stripMargin,
        graft.functions.ExactRatio.r2e6Stages(graft.functions.ExactRatio.DuckF,
          "dot_e10", "norm2_a", "norm2_b", "cos2_e6"))} q
       |ORDER BY cust_a, cust_b""".stripMargin) { (s, d) =>
    // the (c, p, tf) purchase table is NOT pinned (r19): its only heavy
    // consumer is the single groupBy(p) chain below; the other consumer,
    // nc, is a 1-row countDistinct that Spark executes as an independent
    // broadcast subtree CONCURRENTLY with the main scan. The r16-era pin
    // predates that single-consumer shape (three window/join consumers
    // then). Measured r19 A/B at sf0.1 idle: pinned 2.56 s vs unpinned
    // 1.86 s — the persist+count+cache-write of the corpus-scale frame
    // cost more than nc's duplicated 2-column scan. At 100 TB the trade
    // is even more lopsided: the pin would materialize a customer×part
    // cache (the corpus-sized spill class VERDICT r18 item 3 flags), while
    // the nc subtree is a combinable partial countDistinct that never
    // holds state beyond its aggregation buffers.
    def cp = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        expr("o_orderkey = l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(count(lit(1)).as("tf"))
    val nc = cp.agg(countDistinct("c").as("n"))
    // r19 (VERDICT r18 item 1, the last weak key): the r18 shape ran a
    // p→c→p shuffle ladder after a pinned cp (df window by part, n2
    // window by customer, THEN groupBy(p) for pair lists) — the c-window
    // between the two p-shuffles blocked exchange reuse and moved the
    // whole weight frame three times. This form moves it ONCE: a single
    // groupBy(p) collect_list both applies the df cap (df = size(l) — cp
    // has one row per (c,p), so the list length IS the distinct-customer
    // count the oracle's dfs CTE computes) and forms the pair lists; the
    // idf weight is computed inline on the bounded lists. Norms need no
    // extra pass over the weight frame at all: the pair explode emits
    // SELF-pairs (i ≤ j, not i < j), so the groupBy(ca,cb) diagonal rows
    // carry num = Σ_p w² = the customer's exact n2 — and na/nb are two
    // windows over the SMALL aggregated pair frame (diag row (a,a) lives
    // in both partition ca=a and partition cb=a), not over the corpus.
    // Net: one consumer chain, no pin at all, two fewer full-frame
    // shuffles. Measured idle (sf0.1): r18 2.32 s → 1.86 s. Fan-out per
    // part stays ≤ df(df+1)/2 ≤ 210 (diag adds ≤ 20) — the basket_pairs
    // discipline, never all-pairs over customers. sort_array orders each
    // (c, tf) list by c (distinct within a part), so i < j enumerates
    // exactly the a.c < b.c pairs.
    val parts = cp.groupBy("p")
      .agg(expr("sort_array(collect_list(struct(c, tf)))").as("l"))
      .filter(size(col("l")).between(2, 20))
      .crossJoin(broadcast(nc))
      .withColumn("idf", expr(
        "cast(floor(ln((cast(n as double) + 1.0d) / (cast(size(l) as double) + 1.0d))" +
          " * 100000.0d + 0.5d) as bigint)"))
      .select(expr(
        "transform(l, e -> struct(e.c as c, cast(e.tf * idf as bigint) as w))").as("lw"))
    val pairExpr =
      """flatten(transform(sequence(1, size(lw)),
        |  i -> transform(sequence(i, size(lw)),
        |    j -> struct(element_at(lw, i) as a, element_at(lw, j) as b))))""".stripMargin
    val pg = parts
      .select(explode(expr(pairExpr)).as("q"))
      .select(col("q.a.c").as("ca"), col("q.b.c").as("cb"),
        col("q.a.w").as("wa"), col("q.b.w").as("wb"))
      .groupBy("ca", "cb")
      .agg(count(lit(1)).as("nsh"), sum(expr("wa * wb")).as("num"))
    // a customer in any surviving pair always has a diagonal row (it has
    // ≥ 1 rare part by construction), so max(when(diag)) is never null on
    // an emitted pair; the na > 0 guard also absorbs the null in theory
    val diagN2 = max(when(col("ca") === col("cb"), col("num")))
    val withNorms = pg
      .withColumn("na", diagN2.over(Window.partitionBy("ca")))
      .withColumn("nb", diagN2.over(Window.partitionBy("cb")))
    import graft.functions.ExactRatio
    val base = withNorms
      .filter(expr("ca < cb AND nsh >= 2 AND na > 0 AND nb > 0" +
        " AND 4 * (cast(num as decimal(38,0)) * num) >= cast(na as decimal(38,0)) * nb"))
      .select(col("ca").as("cust_a"), col("cb").as("cust_b"),
        col("nsh").as("n_shared"), col("num").as("dot_e10"),
        col("na").as("norm2_a"), col("nb").as("norm2_b"))
    // cos² as ExactRatio's integer rational (dot_e10 carries the sign);
    // zero-norm guard added for the ladder — vacuous on real data, where
    // a surviving pair always has positive idf-weight norms
    ExactRatio.applySpark(base, ExactRatio.r2e6Stages(ExactRatio.SparkF,
        "dot_e10", "norm2_a", "norm2_b", "cos2_e6"))
      .select("cust_a", "cust_b", "n_shared", "dot_e10",
        "norm2_a", "norm2_b", "cos2_e6")
      .orderBy("cust_a", "cust_b")
  }

  /** ABC inventory classification of parts by lineitem revenue — the
    * cumulative-share Pareto partition (A: first 80% of revenue, B: next
    * 15%, C: tail) behind every stocking-policy report. Facts collapse
    * through ONE combinable cents aggregate onto the part domain; the
    * running share is a window over that DOMAIN table under the TOTAL
    * order (revenue desc, partkey) — partkey uniqueness makes RANGE ≡
    * ROWS, so both engines' default frames agree — and the class test is
    * exact DECIMAL cross-multiplication (5·cum ≤ 4·T, 20·cum ≤ 19·T):
    * no share double ever crosses a comparison, and the class share
    * ships as share_e6 = floor(1e6·classRev/total) — exact integers
    * only. The running sum is the RANGE-PARTITIONED two-pass prefix sum
    * ([[graft.operators.RangePrefixSum]]), never a partition-less
    * window: that shape single-tasks the whole part dimension (the r14
    * bench pathology — 47 s under contention) and dies at 100× part
    * cardinality; here every stage is parallel and the only driver
    * state is one exact BigDecimal per partition. */
  private val partsAbc = Q("parts_abc",
    s"""WITH pr AS (SELECT l_partkey AS pk,
       |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
       |      AS DECIMAL(38,0)) AS r
       |  FROM lineitem GROUP BY l_partkey),
       |w AS (SELECT pk, r,
       |    sum(r) OVER (ORDER BY r DESC, pk) AS cum,
       |    sum(r) OVER () AS t FROM pr),
       |c AS (SELECT r, t,
       |    CASE WHEN 5 * cum <= 4 * t THEN 'A'
       |         WHEN 20 * cum <= 19 * t THEN 'B' ELSE 'C' END AS cls
       |  FROM w)
       |SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
       |  CAST(sum(r) AS BIGINT) AS revenue_cents,
       |  ${e6(DuckF, DuckF.bigCast("sum(r)"), DuckF.bigCast("max(t)"))} AS share_e6
       |FROM c GROUP BY cls ORDER BY cls""".stripMargin) { (s, d) =>
    val pr = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
        .cast("decimal(38,0)").as("r"))
    val (w, total) = graft.operators.RangePrefixSum.withRunningSum(
      pr, Seq(col("r").desc, col("pk")), "r", "cum")
    val t = s"cast('${total.toPlainString}' as decimal(38,0))"
    w.select(col("r"),
        expr(s"case when 5 * cum <= 4 * $t then 'A'" +
          s" when 20 * cum <= 19 * $t then 'B' else 'C' end").as("cls"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"),
        sum("r").cast("bigint").as("revenue_cents"),
        expr(e6(SparkF, "sum(r)", t)).as("share_e6"))
      .orderBy("cls")
  }

  /** Day-of-week seasonal profile per event type — the weekly-shape
    * index (observed share vs the flat 1/7 baseline) that separates
    * weekday-driven types from flat ones before a forecast or an
    * anomaly threshold assumes either. The dow derives from the exact
    * epoch-day BIGINT — (day + 3) mod 7, 0 = Monday — identical integer
    * arithmetic on both engines, never an engine dayofweek() (their
    * numbering conventions differ, the SURVEY §7.3 ban). Counts and
    * totals are the exact hash surface; the weekly index ships as
    * idx_e6 = floor(7e6·n/total) — exact integer division on both
    * engines, no hashed double. ONE combinable count onto the bounded
    * (type, dow ≤ 7) domain; the per-type total rides a window on that
    * domain table. */
  private val eventsSeasonality = Q("events_seasonality",
    s"""WITH e AS (SELECT event_type,
       |    CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS BIGINT) AS dow
       |  FROM events),
       |g AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
       |  FROM e GROUP BY event_type, dow),
       |w AS (SELECT event_type, dow, n,
       |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
       |  FROM g)
       |SELECT event_type, dow, n, total,
       |  CAST((CAST('7000000' AS HUGEINT) * n) // total AS BIGINT) AS idx_e6
       |FROM w ORDER BY event_type, dow""".stripMargin) { (s, d) =>
    val g = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast((ts_us div 86400000000 + 3) % 7 as bigint)").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    g.withColumn("total", sum("n").over(Window.partitionBy("event_type")))
      .select(col("event_type"), col("dow"), col("n"), col("total"),
        expr("cast((cast('7000000' as decimal(38,0)) * n) div total as bigint)")
          .as("idx_e6"))
      .orderBy("event_type", "dow")
  }

  /** Exact 7-day trailing median of daily event counts per type — the
    * robust smoother a spike-tolerant anomaly baseline uses where
    * `events_rolling`'s mean is skew-fragile. The fact stream collapses
    * FIRST onto the (type, day) count domain; the trailing window is
    * then built with NO join at all: each domain row explodes its 7
    * forward offsets (day+0..6, k = 0 flagging the anchor's own row)
    * and anchors that were never observed are dropped whole via a
    * max-flag window — constant ×7 fanout of the DOMAIN, never the
    * facts, one scan (a BETWEEN theta-join would plan a join-filtered
    * SMJ and re-scan the aggregate on both sides). The median is the agg_weighted_median
    * cross-multiplied idiom over the ≤7-row per-anchor groups — lower
    * median by exact integer rank comparison, no interpolation, no
    * doubles anywhere in the key. */
  private val eventsRollingMedian = Q("events_rolling_median",
    s"""WITH c AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY event_type, day),
       |j AS (SELECT a.event_type, a.day, b.n AS bn
       |  FROM c a JOIN c b ON a.event_type = b.event_type
       |    AND b.day BETWEEN a.day - 6 AND a.day),
       |r AS (SELECT event_type, day, bn,
       |    row_number() OVER (PARTITION BY event_type, day
       |      ORDER BY bn) AS rk,
       |    count(*) OVER (PARTITION BY event_type, day) AS w FROM j)
       |SELECT event_type, day, CAST(max(w) AS BIGINT) AS n_days,
       |  CAST(min(CASE WHEN 2 * rk >= w THEN bn END) AS BIGINT) AS med_lo,
       |  CAST(sum(bn) AS BIGINT) AS sum_n
       |FROM r GROUP BY event_type, day
       |ORDER BY event_type, day""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    // offset explosion: each observed day contributes its count to the
    // 7 anchors day..day+6 (k = 0 marks the anchor's own contribution);
    // groups whose anchor day was never observed carry no k = 0 row and
    // are dropped WHOLE after the windows — per-group ranks are computed
    // before the filter, so surviving groups' ranks are untouched. This
    // replaces the equi-join back to the anchor set: ONE scan, zero
    // joins, constant ×7 fanout of the DOMAIN only.
    val contrib = c
      .withColumn("k", explode(expr("sequence(0, 6)")))
      .select(col("event_type"), (col("day") + col("k")).as("day"),
        col("n").as("bn"),
        when(col("k") === 0, 1).otherwise(0).as("anchor"))
    val r = contrib
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type", "day").orderBy("bn")))
      .withColumn("w", count(lit(1)).over(
        Window.partitionBy("event_type", "day")))
      .withColumn("has_anchor", max("anchor").over(
        Window.partitionBy("event_type", "day")))
      .filter(col("has_anchor") === 1)
    r.groupBy("event_type", "day")
      .agg(max("w").as("n_days"),
        min(when(expr("2 * rk >= w"), col("bn"))).as("med_lo"),
        sum("bn").as("sum_n"))
      .orderBy("event_type", "day")
  }

  val all: Seq[Q] = Seq(eventsRolling, embeddingCentroid, textBigramLogprob,
    dedupNameVariants, triangleCount, scaleMinmax, eventsHourlyProfile,
    featureCdf, eventsTwa, basketPairs, revenueGini, basketLift, eventsDauWau,
    eventsOhlc, graphPagerank, resampleFfill, embeddingProject, simSparseCosine,
    partsAbc, eventsSeasonality, eventsRollingMedian)
}
