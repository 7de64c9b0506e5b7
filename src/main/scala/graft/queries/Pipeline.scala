package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.functions.ExactRatio.{DuckF, SparkF, bigSum, e6}
import Sqlh.{dsum, dsumSpark, revenue}

/** Round-9 pipeline-analytics suite (SURVEY.md §2.13): the remaining
  * operations a production training-data pipeline runs between ingest and
  * export — composite quality gating, chunk- and containment-level near-dup
  * detection, source rebalancing, bloom-prefiltered joins, skyline/outlier
  * analytics and column profiling.
  *
  * Every op follows the Curation parity rules (no rand(), doubles never
  * cross an aggregation boundary, thresholds compared in exact integer
  * arithmetic, floor not round) and the 100 TB shuffle discipline (notes
  * per op; nothing here collects to the driver).
  */
object Pipeline {

  /** Gopher/C4-style composite quality gate. All four gates are exact
    * integer comparisons (a ratio threshold `x/y >= a/b` is written
    * `b*x >= a*y`), so no double ever reaches a comparison. Map-only —
    * at 100 TB this fuses into the scan that feeds it; the output sort is
    * presentation only.
    */
  private val qualityGate = Q("quality_gate",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
       |    length(text) - (len(string_split(text, ' ')) - 1) AS n_wchar,
       |    len(list_filter(string_split(lower(text), ' '),
       |        x -> x IN ('the', 'fast', 'slow'))) AS n_stop,
       |    len(list_distinct(string_split(text, ' '))) AS n_dist
       |  FROM documents)
       |SELECT doc_id,
       |  len(w) BETWEEN 30 AND 70 AS g_len,
       |  4 * len(w) <= n_wchar AND n_wchar <= 5 * len(w) AS g_wlen,
       |  12 * n_stop >= len(w) AS g_stop,
       |  2 * (len(w) - n_dist) <= len(w) AS g_rep,
       |  (len(w) BETWEEN 30 AND 70)
       |    AND (4 * len(w) <= n_wchar AND n_wchar <= 5 * len(w))
       |    AND (12 * n_stop >= len(w))
       |    AND (2 * (len(w) - n_dist) <= len(w)) AS kept
       |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_tok", expr("size(split(text, ' '))"))
      .withColumn("n_wchar", expr("length(text) - (n_tok - 1)"))
      .withColumn("n_stop",
        expr("size(filter(split(lower(text), ' '), x -> x IN ('the', 'fast', 'slow')))"))
      .withColumn("n_dist", expr("size(array_distinct(split(text, ' ')))"))
      .select(col("doc_id"),
        expr("n_tok BETWEEN 30 AND 70").as("g_len"),
        expr("4 * n_tok <= n_wchar AND n_wchar <= 5 * n_tok").as("g_wlen"),
        expr("12 * n_stop >= n_tok").as("g_stop"),
        expr("2 * (n_tok - n_dist) <= n_tok").as("g_rep"))
      .withColumn("kept", col("g_len") && col("g_wlen") && col("g_stop") && col("g_rep"))
      .orderBy("doc_id")
  }

  /** C4-style chunk-level duplicate detection: docs are cut into aligned
    * 6-token chunks and chunks appearing in >= 2 distinct docs are ranked.
    * Shuffle shape: explode -> one hash aggregation keyed on the chunk
    * (count + count distinct plan a single Expand + aggregate), then
    * TakeOrderedAndProject for the top-100 — a bounded heap per partition,
    * never a global sort. A pathologically hot chunk ("lorem lorem ...")
    * is one aggregation key — counts combine map-side, so no partition
    * serializes on it.
    */
  private val dedupChunk = Q("dedup_chunk",
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |chunks AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, (len(w) + 5) // 6),
       |      i -> array_to_string(w[(i-1)*6+1 : i*6], ' '))) AS chunk
       |  FROM toks)
       |SELECT chunk, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
       |FROM chunks GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY n_occ DESC, chunk LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, (size(w) + 5) div 6), i -> concat_ws(' ', slice(w, (i-1)*6+1, 6)))"))
          .as("chunk"))
      .groupBy("chunk")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("chunk"))
      .limit(100)
  }

  /** Containment near-dup pairs (doc-inside-doc detection): over the same
    * capped rare-shingle sets as exact Jaccard, containment
    * |A∩B| / min(|A|,|B|) >= 0.8 catches a short doc embedded in a long
    * one that Jaccard's union denominator dilutes below threshold. The
    * threshold is the exact integer predicate 5*c >= 4*min(na,nb); the
    * reported double is one division of those same ints (bit-identical on
    * both engines). Same 100 TB shape as jaccardPairs: shared-shingle
    * equi-join with the df <= 50 cap IN the gram table — never all-pairs.
    */
  private val dedupContainment = Q("dedup_containment",
    s"""WITH ${LlmOps.pairStatsCte},
       |cpairs AS (
       |  SELECT da, db, CAST(c AS DOUBLE) / least(na.n, nb.n) AS containment
       |  FROM common JOIN sizes na ON da = na.doc_id JOIN sizes nb ON db = nb.doc_id
       |  WHERE 5 * c >= 4 * least(na.n, nb.n))
       |SELECT da, db, containment FROM cpairs ORDER BY da, db""".stripMargin) { (s, d) =>
    // shared pair-statistics kernel with jaccardPairs — only the filter
    // predicate and reported metric differ. Single-consumption query, so
    // (r14) it returns the pair plan UNEXECUTED over the pinned gram
    // table (Caching.pinOnce — 2 actions total) instead of
    // materializeRetiring's pin+materialize+retire (3): the r13 forensic
    // showed driver-bench inflation tracks action count under host
    // contention, and the pairs set was materialized only to be read
    // once by the sink anyway. The gram pin is the caller's to retire
    // (clearCache, as Bench/Verify do).
    val (stats, grams) = LlmOps.pairStats(s, d)
    graft.Caching.pinOnce(grams)
    stats
      .filter(expr("5 * c >= 4 * least(na, nb)"))
      .select(col("da"), col("db"),
        expr("cast(c as double) / least(na, nb)").as("containment"))
      .orderBy("da", "db")
  }

  /** Per-source duplicate rate — the ingest-source report card downstream
    * of the near-dup pair graph: for each document source, how many docs
    * participate in at least one exact-Jaccard near-dup pair (jac ≥ 0.5,
    * the dedup_ngram_jaccard edge set) and the fraction as an exact
    * rate_e6 integer. This is the number a pipeline uses to decide which
    * FEED to renegotiate, where the pair list says which DOCS to drop —
    * the reporting grain the dedup family feeds. Scale: the pair graph is
    * the shared banded/df-capped kernel (never all-pairs, kernel cached
    * once per session); membership is a distinct over pair endpoints
    * (≤ 2·|pairs| rows) left-joined to the doc dimension, then one
    * combinable aggregate per source. Integer-only hash surface: counts
    * + an [[graft.functions.ExactRatio.e6]] rate.
    */
  private val dedupRateBySource = Q("dedup_rate_by_source",
    s"""WITH ${LlmOps.jaccardCte},
       |dup AS (SELECT DISTINCT doc_id FROM (
       |  SELECT da AS doc_id FROM jpairs
       |  UNION ALL SELECT db AS doc_id FROM jpairs) u)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
       |  ${e6(DuckF, "sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END)", "count(*)")} AS rate_e6
       |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
    val pairs = LlmOps.jaccardPairs(s, d)
    val dup = pairs.select(col("da").as("doc_id"))
      .unionAll(pairs.select(col("db").as("doc_id")))
      .distinct()
      .withColumn("isdup", lit(1L))
    Tables.documents(s, d).select("doc_id", "source")
      .join(dup, Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        expr(e6(SparkF, "n_dup", "n_docs")).as("rate_e6"))
      .orderBy("source")
  }

  /** Deterministic source rebalancing: every language is downsampled to
    * the smallest language's document count (uniform target mix), keeping
    * the lowest doc_ids. The min count is a one-row broadcast. The exact
    * per-lang rank is a window over a 5-key partitioning — fine here, but
    * at 100 TB a 5-key window serializes per-key; the scale form swaps the
    * exact rank for hash-rate sampling (keep iff
    * pmod(xxhash64(doc_id), 2^20) < 2^20 * mn / n_lang, rates broadcast),
    * one map pass with binomially-tight counts. The rank-exact variant is
    * kept because the oracle needs an exactly reproducible kept-set.
    */
  private val domainMix = Q("domain_mix",
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |m AS (SELECT min(n) AS mn FROM c),
       |r AS (SELECT doc_id, lang, source,
       |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT r.doc_id, r.lang, r.source FROM r, m
       |WHERE r.rn <= m.mn ORDER BY r.doc_id""".stripMargin) { (s, d) =>
    // ONE window pass computes rank and class size together (the
    // class_rebalance shape, r17): pinned as a narrow projection so the
    // min-class scalar and the final filter are cache reads instead of
    // a second document scan (2 scans -> 1)
    val lbl = Window.partitionBy("lang")
    val w = graft.Caching.pinOnce(Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rn", row_number().over(lbl.orderBy("doc_id")))
      .withColumn("n", count(lit(1)).over(lbl)))
    val m = w.filter(col("rn") === 1).agg(min("n").as("mn"))
    w.crossJoin(broadcast(m))
      .filter(col("rn") <= col("mn"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered join: the selective dimension's keys are folded
    * into a bloom filter by Spark's internal `BloomFilterAggregate`
    * (registered as `bloom_agg` — partial aggregation merges sketches
    * map-side, so the build shuffles one sketch per partition, never
    * keys), delivered to the fact scan as an uncorrelated scalar subquery,
    * and probed by `bloom_might_contain` BEFORE the join shuffle. With
    * ~10% of orders qualifying, the fact side sheds ~90% of its rows
    * pre-exchange; false positives are removed by the exact join, so the
    * result is identical to the plain join the oracle runs. The MERGE hint
    * pins the shuffle-join regime the op exists for (a dim small enough to
    * broadcast would get Spark's own runtime filtering instead; at 100 TB
    * the interesting dim is the one that fits a bloom but not a broadcast).
    */
  private val joinBloomPrefilter = Q("join_bloom_prefilter",
    s"""SELECT d.o_orderpriority, ${dsum(revenue)} AS revenue, count(*) AS n_items
       |FROM lineitem f
       |JOIN (SELECT o_orderkey, o_orderpriority FROM orders
       |      WHERE o_totalprice > 450000) d
       |  ON f.l_orderkey = d.o_orderkey
       |GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority""".stripMargin) { (s, d) =>
    graft.functions.Blooms.register(s)
    Tables.orders(s, d).createOrReplaceTempView("graft_bpf_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_bpf_lineitem")
    s.sql(
      s"""WITH dim AS (SELECT o_orderkey, o_orderpriority FROM graft_bpf_orders
         |            WHERE o_totalprice > 450000),
         |bf AS (SELECT bloom_agg(o_orderkey) AS b FROM dim)
         |SELECT /*+ SHUFFLE_MERGE(d) */
         |  d.o_orderpriority, ${dsumSpark(revenue)} AS revenue, count(*) AS n_items
         |FROM graft_bpf_lineitem f
         |JOIN dim d ON f.l_orderkey = d.o_orderkey
         |WHERE bloom_might_contain((SELECT b FROM bf), f.l_orderkey)
         |GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority""".stripMargin)
  }

  /** Pareto frontier (skyline) of parts: cheapest-price / largest-size
    * non-dominated set. Dominance is decided in exact integer space
    * (price cents, size). Distributed shape: the big table contributes
    * only a map-combinable groupBy(price) max(size) — the per-price table
    * is |distinct prices|-sized (bounded, ~10k) — the running max over
    * strictly-cheaper prices is a window on that TINY table, and the
    * verdict joins back via broadcast. No global sort of the base table
    * anywhere, so the op survives 100x scale with the same plan.
    */
  private val paretoFrontier = Q("pareto_frontier",
    s"""WITH p AS (SELECT p_partkey, p_retailprice, p_size,
       |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc,
       |    CAST(p_size AS BIGINT) AS sz
       |  FROM part),
       |pp AS (SELECT pc, max(sz) AS m1 FROM p GROUP BY pc),
       |st AS (SELECT pc, m1, max(m1) OVER (ORDER BY pc
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m2 FROM pp)
       |SELECT p.p_partkey, p.p_retailprice, p.p_size
       |FROM p JOIN st ON p.pc = st.pc
       |WHERE p.sz = st.m1 AND (st.m2 IS NULL OR p.sz > st.m2)
       |ORDER BY p.p_retailprice, p.p_size, p.p_partkey""".stripMargin) { (s, d) =>
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"), col("p_size"),
      expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)").as("pc"),
      col("p_size").cast("long").as("sz"))
    val perPrice = p.groupBy("pc").agg(max("sz").as("m1"))
    val st = perPrice.withColumn("m2",
      max("m1").over(Window.orderBy("pc").rangeBetween(Window.unboundedPreceding, -1)))
    p.join(broadcast(st), "pc")
      .filter(col("sz") === col("m1") && (col("m2").isNull || col("sz") > col("m2")))
      .select("p_partkey", "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_size", "p_partkey")
  }

  /** Fixed-width histogram of event values per type. The bin is one
    * IEEE-deterministic double division + floor (identical inputs ->
    * identical bin on both engines; no aggregation of doubles — min/max
    * are order-independent). Map-side combinable: at 100 TB this is one
    * partial+final hash aggregate over (type, bin).
    */
  private val histogramFixed = Q("histogram_fixed",
    s"""SELECT event_type, CAST(floor(value / CAST(25 AS DOUBLE)) AS INT) AS bin,
       |  count(*) AS n_events, min(value) AS vmin, max(value) AS vmax
       |FROM events GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("bin", expr("cast(floor(value / cast(25 as double)) as int)"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n_events"), min("value").as("vmin"), max("value").as("vmax"))
      .orderBy("event_type", "bin")
  }

  /** Column profiling (ingest QA): exact row/distinct counts + min/max per
    * measure column, in ONE pass — the four exact count(DISTINCT)s plan a
    * single Expand (4x row duplication) + one aggregation, not four scans;
    * `stack` unpivots the 1-row result. min/max of doubles are
    * order-independent, so no parity risk. At 100 TB the Expand quadruples
    * the shuffle rows — the documented trade vs 4 separate scans of a
    * 100 TB table; swap to HLL sketches when exactness isn't required
    * (agg_approx_distinct is that op).
    */
  private val profileColumns = Q("profile_columns",
    s"""SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
       |  count(DISTINCT l_quantity) AS n_distinct,
       |  min(l_quantity) AS vmin, max(l_quantity) AS vmax FROM lineitem
       |UNION ALL SELECT 'l_extendedprice', count(*), count(DISTINCT l_extendedprice),
       |  min(l_extendedprice), max(l_extendedprice) FROM lineitem
       |UNION ALL SELECT 'l_discount', count(*), count(DISTINCT l_discount),
       |  min(l_discount), max(l_discount) FROM lineitem
       |UNION ALL SELECT 'l_tax', count(*), count(DISTINCT l_tax),
       |  min(l_tax), max(l_tax) FROM lineitem
       |ORDER BY col_name""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_quantity")).as("d1"),
        min("l_quantity").as("mn1"), max("l_quantity").as("mx1"),
        countDistinct(col("l_extendedprice")).as("d2"),
        min("l_extendedprice").as("mn2"), max("l_extendedprice").as("mx2"),
        countDistinct(col("l_discount")).as("d3"),
        min("l_discount").as("mn3"), max("l_discount").as("mx3"),
        countDistinct(col("l_tax")).as("d4"),
        min("l_tax").as("mn4"), max("l_tax").as("mx4"))
      .selectExpr(
        """stack(4,
          |  'l_quantity', d1, mn1, mx1,
          |  'l_extendedprice', d2, mn2, mx2,
          |  'l_discount', d3, mn3, mx3,
          |  'l_tax', d4, mn4, mx4) as (col_name, n_distinct, vmin, vmax)""".stripMargin,
        "n_rows")
      .select("col_name", "n_rows", "n_distinct", "vmin", "vmax")
      .orderBy("col_name")
  }

  /** IQR outlier detection with DISCRETE (rank-selected) quartiles: q1/q3
    * are actual data values picked at rank ceil(n/4) / ceil(3n/4) by
    * integer arithmetic — no interpolation, so no engine-specific
    * quantile math anywhere. The fence arithmetic (q1 - 1.5*(q3-q1)) runs
    * on identical doubles with identical expression shape on both engines
    * (IEEE-deterministic). Shape: one window pass partitioned by
    * event_type for ranks, a 5-row quartile table broadcast back. The
    * 5-key window partitioning serializes per key at 100 TB — the scale
    * form computes the rank thresholds from a per-type histogram
    * (two map-combinable aggregates) instead of row_number; the exact-rank
    * variant is kept for oracle-reproducible quartiles.
    */
  private val outlierIqr = Q("outlier_iqr",
    s"""WITH r AS (SELECT event_type, event_id, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events),
       |q AS (SELECT event_type,
       |    max(CASE WHEN rn = (n + 3) // 4 THEN value END) AS q1,
       |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS q3
       |  FROM r GROUP BY event_type)
       |SELECT e.event_id, e.event_type, e.value
       |FROM events e JOIN q ON e.event_type = q.event_type
       |WHERE e.value < q.q1 - 1.5e0 * (q.q3 - q.q1)
       |   OR e.value > q.q3 + 1.5e0 * (q.q3 - q.q1)
       |ORDER BY e.event_type, e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select("event_id", "event_type", "value")
    val r = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val q = r.groupBy("event_type").agg(
      max(expr("case when rn = (n + 3) div 4 then value end")).as("q1"),
      max(expr("case when rn = (3 * n + 3) div 4 then value end")).as("q3"))
    ev.join(broadcast(q), "event_type")
      .filter(expr("value < q1 - 1.5e0 * (q3 - q1) OR value > q3 + 1.5e0 * (q3 - q1)"))
      .select("event_id", "event_type", "value")
      .orderBy("event_type", "event_id")
  }

  /** Per-event session assignment: a session starts when the gap from the
    * user's previous event exceeds 30 minutes; `sess_seq` is the user's
    * running session number. Exact bigint µs arithmetic end to end. One
    * (user_id) exchange feeds both the lag and the running sum (same
    * ordering) — the companion `interval_coverage` aggregates the same
    * islands; this op keeps the per-event assignment a pipeline needs to
    * group work by session downstream.
    */
  private val sessionize = Q("sessionize",
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |m AS (SELECT user_id, event_id, ts_us,
       |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
       |  FROM e)
       |SELECT event_id, user_id,
       |  CAST(sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_seq
       |FROM m ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val ordered = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d).select("user_id", "event_id", "ts_us")
      .withColumn("prev_ts", lag("ts_us", 1).over(ordered))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("sess_seq", sum("new_sess")
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "user_id", "sess_seq")
      .orderBy("user_id", "event_id")
  }

  /** Session-gap sensitivity sweep: session counts (and mean events per
    * session) at five candidate inactivity thresholds — the tuning curve
    * a pipeline reads BEFORE hard-coding [[sessionize]]'s 30-minute gap
    * (a flat stretch of the curve means the choice is robust; a steep one
    * means the "session" is an artifact of the threshold). Exact
    * identity, no per-threshold re-sessionization: sessions(t) = n_users
    * + #{gaps > t} (every user's first event opens a session, every
    * over-threshold gap opens one more), so ONE per-user lag window and
    * ONE combinable aggregate (five conditional sums; n_users counted as
    * the null-gap rows — no count(DISTINCT), which would plan an Expand)
    * serve all five thresholds; the 5-row sweep is a broadcast spine
    * over that 1-row moment table. Events-per-session ships as eps_e6 =
    * floor(1e6·n_events/n_sessions) — int64-only surface.
    */
  private val sessionizeGapSweep = Q("sessionize_gap_sweep", {
    val gaps = Seq(60L, 300L, 900L, 1800L, 3600L)
    val caseOf = (f: Long => String) =>
      "CASE gap_s " + gaps.map(g => s"WHEN $g THEN ${f(g)}").mkString(" ") + " END"
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |g AS (SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS gap FROM e),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
       |    CAST(sum(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
       |    ${gaps.map(g => s"CAST(sum(CASE WHEN gap > ${g * 1000000L} THEN 1 ELSE 0 END) AS BIGINT) AS b$g").mkString(",\n       |    ")}
       |  FROM g),
       |sp AS (SELECT unnest([${gaps.mkString(", ")}]) AS gap_s),
       |sw AS (SELECT CAST(gap_s AS BIGINT) AS gap_s, n_events,
       |    n_users + ${caseOf(g => s"b$g")} AS n_sessions
       |  FROM sp, m)
       |SELECT gap_s, n_sessions, n_events,
       |  ${e6(DuckF, "n_events", "n_sessions")} AS eps_e6
       |FROM sw ORDER BY gap_s""".stripMargin
  }) { (s, d) =>
    val gaps = Seq(60L, 300L, 900L, 1800L, 3600L)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val g = Tables.events(s, d).select("user_id", "event_id", "ts_us")
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
    val aggs = Seq(count(lit(1)).as("n_events"),
      sum(when(col("gap").isNull, 1L).otherwise(0L)).as("n_users")) ++
      gaps.map(gp => sum(when(col("gap") > gp * 1000000L, 1L).otherwise(0L)).as(s"b$gp"))
    val m = g.agg(aggs.head, aggs.tail: _*)
    val spine = s.range(1)
      .select(explode(array(gaps.map(lit): _*)).as("gap_s"))
    val caseSql = "CASE gap_s " +
      gaps.map(gp => s"WHEN $gp THEN b$gp").mkString(" ") + " END"
    spine.crossJoin(broadcast(m))
      .select(col("gap_s"),
        expr(s"n_users + $caseSql").as("n_sessions"), col("n_events"))
      .withColumn("eps_e6",
        expr(e6(SparkF, "n_events", "n_sessions")))
      .orderBy("gap_s")
  }

  /** Diversity-constrained top-k (curation sampling): the 3 longest docs
    * per language, but at most 2 from any one source — the MMR-style
    * "don't let one crawl dominate the sample" rule. Two window passes:
    * rank within (lang, source) to cap the source, then rank within lang
    * over the capped survivors. Both partitionings are fine-grained
    * enough to shard; ties always break on doc_id so the kept set is
    * deterministic.
    */
  private val topkDiverse = Q("topk_diverse",
    s"""WITH r1 AS (SELECT doc_id, lang, source, n_chars,
       |    row_number() OVER (PARTITION BY lang, source
       |      ORDER BY n_chars DESC, doc_id) AS rn_src
       |  FROM documents),
       |r2 AS (SELECT doc_id, lang, source, n_chars,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM r1 WHERE rn_src <= 2)
       |SELECT lang, source, doc_id, n_chars FROM r2 WHERE rn <= 3
       |ORDER BY lang, n_chars DESC, doc_id""".stripMargin) { (s, d) =>
    val wSrc = Window.partitionBy("lang", "source").orderBy(col("n_chars").desc, col("doc_id"))
    val wLang = Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
      .withColumn("rn_src", row_number().over(wSrc))
      .filter(col("rn_src") <= 2)
      .withColumn("rn", row_number().over(wLang))
      .filter(col("rn") <= 3)
      .select("lang", "source", "doc_id", "n_chars")
      .orderBy(col("lang"), col("n_chars").desc, col("doc_id"))
  }

  /** Exact mode per group with a DETERMINISTIC tie-break (highest count,
    * then smallest value) — engines' built-in mode() tie-breaking is
    * unspecified, so both sides use the explicit rank formulation. The
    * value-level aggregate is map-side combinable; the rank window runs
    * on the (group, distinct value) table, which is orders of magnitude
    * smaller than the input at any scale.
    */
  private val aggMode = Q("agg_mode",
    s"""SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
       |  SELECT l_returnflag, l_quantity, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY count(*) DESC, l_quantity) AS rn
       |  FROM lineitem GROUP BY l_returnflag, l_quantity) t
       |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("l_quantity"))))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
      .orderBy("l_returnflag")
  }

  /** Exact-moment regression statistics per group: Pearson correlation +
    * OLS slope/intercept of extendedprice on quantity. The five moments
    * are sums of integer products (values snapped to cents by
    * floor(x*100+0.5) — deterministic on both engines even where x*100
    * isn't exactly representable) accumulated in DECIMAL(38,0): exact and
    * aggregation-order-independent at ANY scale, where a double
    * sum-of-products would be combine-order-nondeterministic. All double
    * math happens AFTER aggregation with identical expression shape on
    * both engines (the events_zscore discipline). One map-side-combinable
    * aggregate; the formula runs on a |groups|-row table.
    */
  private val statsRegression = Q("stats_regression", {
    val moments =
      """SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(qi AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(pi AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(qi * qi AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(pi * pi AS DECIMAL(38,0))) AS syy,
        |    sum(CAST(qi * pi AS DECIMAL(38,0))) AS sxy
        |  FROM (SELECT l_returnflag,
        |      CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qi,
        |      CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pi
        |    FROM lineitem) t
        |  GROUP BY l_returnflag""".stripMargin
    s"""WITH m AS ($moments)
       |SELECT l_returnflag, n,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |    AS corr_pq,
       |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |    AS slope,
       |  ((CAST(sy AS DOUBLE)
       |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(100 AS DOUBLE)
       |    AS intercept
       |FROM m ORDER BY l_returnflag""".stripMargin
  }) { (s, d) =>
    val m = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("cast(floor(l_quantity * 100 + 0.5) as bigint)").as("qi"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("pi"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr(bigSum(SparkF, "qi")).as("sx"),
        expr(bigSum(SparkF, "pi")).as("sy"),
        expr(bigSum(SparkF, "qi * qi")).as("sxx"),
        expr(bigSum(SparkF, "pi * pi")).as("syy"),
        expr(bigSum(SparkF, "qi * pi")).as("sxy"))
    m.select(col("l_returnflag"), col("n"),
        expr(
          """(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))
            |  / (sqrt(cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))
            |     * sqrt(cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)))""".stripMargin)
          .as("corr_pq"),
        expr(
          """(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))
            |  / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))""".stripMargin)
          .as("slope"),
        expr(
          """((cast(sy as double)
            |  - ((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))
            |     / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)))
            |    * cast(sx as double)) / cast(n as double)) / cast(100 as double)""".stripMargin)
          .as("intercept"))
      .orderBy("l_returnflag")
  }

  /** CCNet-style unigram language-model quality score: each doc's mean
    * per-token log-probability under its language's corpus unigram
    * distribution (low = unusual token mix = quality outlier). Every
    * token's log-prob is floor-scaled to an exact ×10⁶ integer BEFORE the
    * per-doc sum, so the aggregation is integer-exact and combine-order
    * independent; only the final per-doc mean divides in double with
    * identical expression shape on both engines. ln parity: same 1-ulp
    * story as text_tfidf — fixture margins from any floor boundary are
    * ≥ 0.005 units (~5e9 ulps), gated in PipelineSpec.
    *
    * Scale shape: token explode is map-only; the (lang, token) frequency
    * table is |vocab|-sized and broadcasts back onto the token stream; the
    * per-doc sum is a combinable aggregate keyed on doc_id.
    */
  private val textUnigramLogprob = Q("text_unigram_logprob",
    s"""WITH toks AS (SELECT doc_id, lang,
       |    unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |freq AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
       |tot AS (SELECT lang, count(*) AS t FROM toks GROUP BY lang),
       |lp AS (SELECT freq.lang, tok,
       |    CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lp_e6
       |  FROM freq JOIN tot ON freq.lang = tot.lang)
       |SELECT toks.doc_id, count(*) AS n_tok,
       |  CAST(sum(lp_e6) AS BIGINT) AS logp_sum_e6,
       |  CAST(CAST(sum(lp_e6) AS BIGINT) AS DOUBLE)
       |    / (CAST(count(*) AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS avg_logp
       |FROM toks JOIN lp ON toks.lang = lp.lang AND toks.tok = lp.tok
       |GROUP BY toks.doc_id ORDER BY toks.doc_id""".stripMargin) { (s, d) =>
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
    // per-lang totals as a window over the vocab domain (bounded), not a
    // second aggregate over toks — the model pass reads documents ONCE
    // and only the scoring join below pays the second tokenization (r17
    // scan audit: 3 scans -> 2, the honest model-then-score shape)
    val freq = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val lp = freq
      .withColumn("t", sum("c").over(Window.partitionBy("lang")))
      .withColumn("lp_e6", expr(
        "cast(floor(ln(cast(c as double) / cast(t as double)) * 1000000.0d + 0.5d) as bigint)"))
      .select("lang", "tok", "lp_e6")
    toks.join(broadcast(lp), Seq("lang", "tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("lp_e6").as("logp_sum_e6"))
      .withColumn("avg_logp",
        expr("cast(logp_sum_e6 as double) / (cast(n_tok as double) * 1000000.0d)"))
      .orderBy("doc_id")
  }


  /** Session-level engagement stats per user: session count, mean events
    * per session and bounce rate (1-event sessions), layered on the same
    * 30-min-gap sessionization as [[sessionize]]. Everything after the
    * session assignment is exact-integer counting; the two ratios divide
    * once, in double, with identical shape on both engines. Two
    * (user_id)-keyed exchanges end-to-end (the window, then the
    * per-session aggregate that reuses the same partitioning).
    */
  private val sessionStats = Q("session_stats",
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |m AS (SELECT user_id, event_id, ts_us,
       |    lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
       |  FROM e),
       |sess AS (SELECT user_id,
       |    sum(CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_seq
       |  FROM m),
       |per_sess AS (SELECT user_id, sess_seq, count(*) AS n_events
       |  FROM sess GROUP BY user_id, sess_seq)
       |SELECT user_id, count(*) AS n_sessions,
       |  CAST(sum(n_events) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_events,
       |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS bounce_rate
       |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val ordered = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d).select("user_id", "event_id", "ts_us")
      .withColumn("prev_ts", lag("ts_us", 1).over(ordered))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("sess_seq", sum("new_sess")
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_seq").agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        expr("cast(sum(n_events) as double) / cast(count(1) as double)").as("mean_events"),
        expr("cast(sum(case when n_events = 1 then 1 else 0 end) as double) / cast(count(1) as double)")
          .as("bounce_rate"))
      .orderBy("user_id")
  }

  val all: Seq[Q] = Seq(qualityGate, dedupChunk, dedupContainment,
    dedupRateBySource, domainMix,
    joinBloomPrefilter, paretoFrontier, histogramFixed, profileColumns, outlierIqr,
    sessionize, sessionizeGapSweep, topkDiverse, aggMode, statsRegression,
    textUnigramLogprob, sessionStats)
}
