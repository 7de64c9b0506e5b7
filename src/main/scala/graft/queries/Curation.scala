package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.functions.ExactRatio
import graft.functions.ExactRatio.{DuckF, Slope, SparkF, duckCols, sparkCols}

/** Round-8 data-curation / pipeline-analytics suite (SURVEY.md §2.13).
  *
  * Design rules shared by every op here (they are what keep the DuckDB
  * hash-compare deterministic, SURVEY §7.3):
  *   - no rand(): sampling keys derive from stable ids via integer
  *     arithmetic, so results are reproducible across engines, runs and
  *     partitionings;
  *   - doubles never cross an aggregation boundary: sums/moments are taken
  *     over exact integers (floor-scaled), and any double math happens
  *     AFTER aggregation with the identical expression structure on both
  *     engines (IEEE ops on identical inputs are bit-identical);
  *   - rounding uses floor(x + 0.5) / floor(x * 10^k), never round(),
  *     because round()'s half-case tie-breaking is engine-specific while
  *     floor is exact on both;
  *   - double literals in the oracle SQL are written CAST(k AS DOUBLE):
  *     DuckDB parses a bare `127.0` as DECIMAL(3,1), and FLOAT/DECIMAL
  *     division rounds differently from FLOAT/DOUBLE by 1 ULP — enough to
  *     flip a floor() (caught live on embedding_quantize row 6).
  *
  * Scale notes are per-op; none of these queries collects to the driver and
  * every shuffle is keyed on a high-cardinality column or reduced map-side.
  */
object Curation {

  /** SCD Type-2 history from the event stream: one validity interval per
    * event, closed by the user's next event (lead window). The window
    * partitions by user_id, so at 100 TB the sort is per-user-key inside a
    * hash-partitioned shuffle — no global ordering anywhere. Output stays
    * in the µs domain (ts_ntz ↔ DuckDB's µs-truncated TIMESTAMP,
    * SURVEY §1.2).
    */
  private val scdType2 = Q("scd_type2",
    s"""SELECT user_id, event_id, event_type, ts AS valid_from,
       |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       |FROM events ORDER BY user_id, valid_from, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_ntz").as("valid_from"), col("ts_us"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("ts_us")
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Merged-interval activity coverage (gaps-and-islands): each event opens
    * a 5-minute interval; overlapping/touching intervals merge and the op
    * reports per-user session count and total covered time. Two windows
    * over the same (user_id) partitioning — one exchange, reused — then a
    * per-user aggregate. Everything is exact bigint µs arithmetic.
    */
  /** Reusable gaps-and-islands kernel: merge each user's [ts, ts+sessUs)
    * intervals and report (user_id, n_sessions, covered_us). Input needs
    * (user_id, event_id, ts_us). One user_id exchange feeds both windows
    * AND both aggregates (subset-clustering satisfies them — see the
    * interval keys in `tools/plans.scala`'s output); the only other
    * exchange is the caller's presentation sort.
    */
  def mergedCoverage(events: DataFrame, sessUs: Long): DataFrame = {
    // BOTH windows order by (ts_us, event_id): with a ROWS frame a bare
    // ts_us ordering is ambiguous on tied timestamps — the island flag is
    // computed against the first tied row, so the running sum must process
    // that row first or tied rows can split across islands
    val ordered = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val prevW = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val runW = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("ts_us") + sessUs).as("end_us"))
      .withColumn("prev_end", max("end_us").over(prevW))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("ts_us") > col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum("new_island").over(runW))
      .groupBy("user_id", "island")
      .agg(min("ts_us").as("s"), max("end_us").as("e2"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("e2") - col("s")).as("covered_us"))
  }

  private val intervalCoverage = Q("interval_coverage",
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    epoch_us(ts) + 300000000 AS end_us FROM events),
       |m AS (SELECT user_id, event_id, ts_us, end_us,
       |    max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM e),
       |isl AS (SELECT user_id, ts_us, end_us,
       |    sum(CASE WHEN prev_end IS NULL OR ts_us > prev_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM m),
       |g AS (SELECT user_id, island, min(ts_us) AS s, max(end_us) AS e2
       |  FROM isl GROUP BY user_id, island)
       |SELECT user_id, count(*) AS n_sessions,
       |  CAST(sum(e2 - s) AS BIGINT) AS covered_us
       |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    mergedCoverage(Tables.events(s, d), sessUs = 300000000L).orderBy("user_id")
  }

  /** Sweep-line concurrency over the same 5-minute activity windows as
    * [[intervalCoverage]] — coverage answers "how much time was covered",
    * this answers "how HOT did it get": the top-20 busiest change-point
    * minutes by simultaneously-open windows (capacity planning for the
    * ingest path; concurrency only moves at window starts/ends, so every
    * peak — including THE peak — is attained at a reported minute). The sweep is the classic +1/−1 event trick, all exact
    * integers: every window contributes +1 at its start minute and −1
    * one past its end minute, deltas collapse through ONE combinable
    * aggregate onto the minute DOMAIN, and concurrency is the running
    * sum over that domain. The running sum is the RANGE-PARTITIONED
    * two-pass prefix sum ([[graft.operators.RangePrefixSum]]), never a
    * partition-less window (r20, VERDICT r19 item 4): the minute domain
    * is bounded by wall-clock SPAN, which — unlike the fixed value
    * spaces of the other domain windows — grows with corpus age (~526k
    * minutes/year; a 10-year corpus would push ~5M rows through one
    * WindowExec task). With RangePrefixSum every stage is parallel and
    * the only driver state is one BigDecimal per partition. The final
    * top-20 is a TakeOrdered heap. Ties break to the earliest minute on
    * both engines.
    */
  private val intervalConcurrency = Q("interval_concurrency",
    s"""WITH e AS (SELECT CAST(epoch_us(ts) // 60000000 AS BIGINT) AS m0 FROM events),
       |ev AS (SELECT m0 AS minute, 1 AS delta FROM e
       |  UNION ALL SELECT m0 + 5, -1 FROM e),
       |daily AS (SELECT minute, CAST(sum(delta) AS BIGINT) AS d FROM ev
       |  GROUP BY minute),
       |c AS (SELECT minute,
       |    CAST(sum(d) OVER (ORDER BY minute) AS BIGINT) AS conc FROM daily)
       |SELECT minute, conc FROM c
       |ORDER BY conc DESC, minute LIMIT 20""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(expr("cast(ts_us div 60000000 as bigint)").as("m0"))
    val ev = e.select(col("m0").as("minute"), lit(1).as("delta"))
      .unionAll(e.select((col("m0") + 5).as("minute"), lit(-1).as("delta")))
    // DECIMAL for RangePrefixSum's exact BigDecimal accumulation; minute
    // is unique after the groupBy, so ordering by it alone is total
    val daily = ev.groupBy("minute")
      .agg(sum("delta").cast("decimal(38,0)").as("d"))
    val (c, _) = graft.operators.RangePrefixSum.withRunningSum(
      daily, Seq(col("minute")), "d", "conc")
    c.select(col("minute"), col("conc").cast("bigint").as("conc"))
      .orderBy(col("conc").desc, col("minute"))
      .limit(20)
  }

  /** Corpus vocabulary: term frequency + document frequency per
    * (lang, token), global top-100 by tf. explode → groupBy is fully
    * map-side combinable (partial HashAggregate before the shuffle), and
    * the top-k plans TakeOrderedAndProject — at 100 TB the shuffle carries
    * one row per distinct (lang, token), not one per token occurrence.
    * (lang, token) is unique per group so the ORDER BY is total.
    */
  private val tokenVocab = Q("token_vocab",
    s"""WITH toks AS (SELECT lang, doc_id,
       |    unnest(string_split(text, ' ')) AS tok FROM documents)
       |SELECT lang, tok, count(*) AS tf, count(DISTINCT doc_id) AS df
       |FROM toks GROUP BY lang, tok
       |ORDER BY tf DESC, lang, tok LIMIT 100""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("lang"), col("tok"))
      .limit(100)
  }

  /** Inverted-index construction: token → document-frequency + the first
    * 8 postings (doc_ids ascending), top-100 tokens by (df DESC, token) —
    * the retrieval-index build step of a search/RAG corpus pipeline. The
    * posting list is CAPPED IN THE PLAN, not after collection: a
    * row_number window ranks postings per token and only rn ≤ 8 rows
    * enter the collect_list, so no aggregate ever buffers an unbounded
    * doc list (the full-posting variant would be the classic 100 TB
    * hot-token OOM). Per-doc dedup runs map-side via array_distinct
    * BEFORE the explode; the window and the df aggregate share ONE (tok)
    * exchange, and the top-100 plans as TakeOrderedAndProject. The posting
    * list is emitted comma-joined (§7.3 rule 5 — the agg_collect_list
    * discipline): the driver's pandas comparator cannot hash an ARRAY
    * column, and sorted ints join identically in both engines.
    */
  private val invertedIndex = Q("inverted_index",
    s"""WITH raw AS (SELECT doc_id,
       |    unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |dt AS (SELECT DISTINCT doc_id, tok FROM raw),
       |r AS (SELECT doc_id, tok,
       |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn FROM dt)
       |SELECT tok, CAST(count(*) AS BIGINT) AS df,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
       |    FILTER (WHERE rn <= 8) AS postings
       |FROM r GROUP BY tok ORDER BY df DESC, tok LIMIT 100""".stripMargin) { (s, d) =>
    val dt = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("array_distinct(split(lower(text), ' '))")).as("tok"))
    val w = Window.partitionBy("tok").orderBy("doc_id")
    dt.withColumn("rn", row_number().over(w))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        expr("array_join(transform(sort_array(collect_list(CASE WHEN rn <= 8 THEN doc_id END)), x -> cast(x as string)), ',')")
          .as("postings"))
      .orderBy(col("df").desc, col("tok"))
      .limit(100)
  }

  /** TF-IDF corpus-relevance scoring — the ranking pass a training-data
    * pipeline runs over token_vocab's tf/df: score(lang, tok) =
    * tf · ln((N_lang + 1)/(df + 1)), emitted floor-scaled to ×10⁶ so the
    * hash compare never sees a raw double. ln() is the ONE transcendental
    * in the suite: JVM Math.log and DuckDB ln were measured to disagree by
    * 1 ulp on ~0.1% of the idf domain (8980 (N, df) triples probed), so
    * the floored integer is the only safe compare — a flip requires the
    * product to sit within 1 ulp of an integer boundary (~1e-5 density at
    * this magnitude; verified clear on every fixture, margin logged in
    * CurationSpec). Both tf and df are exact integer aggregates; the
    * double math happens per-row AFTER aggregation with the identical
    * expression tree on both engines.
    *
    * Scale shape: explode → partial-aggregated groupBy on (lang, tok);
    * the per-lang doc count is a 5-row broadcast; the top-100 plans
    * TakeOrderedAndProject over the exact integer score — no double ever
    * decides the cut.
    */
  private val textTfidf = Q("text_tfidf",
    s"""WITH toks AS (SELECT lang, doc_id,
       |    unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT lang, tok, count(*) AS tf, count(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY lang, tok),
       |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
       |SELECT tf.lang AS lang, tok, tf, df,
       |  CAST(floor(CAST(tf AS DOUBLE)
       |    * ln((CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE))
       |          / (CAST(df AS DOUBLE) + CAST(1 AS DOUBLE)))
       |    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS tfidf_e6
       |FROM tf JOIN nd ON tf.lang = nd.lang
       |ORDER BY tfidf_e6 DESC, lang, tok LIMIT 100""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("lang"), col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
    val nd = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(nd), "lang")
      .withColumn("tfidf_e6", expr(
        "cast(floor(cast(tf as double) * ln((cast(n_docs as double) + 1.0d) / (cast(df as double) + 1.0d)) * 1000000.0d + 0.5d) as bigint)"))
      .select("lang", "tok", "tf", "df", "tfidf_e6")
      .orderBy(col("tfidf_e6").desc, col("lang"), col("tok"))
      .limit(100)
  }

  /** BM25 document relevance against a fixed probe-term set — the retrieval
    * scoring a training-data pipeline runs to rank documents against a
    * query (k1 = 1.2, b = 0.75; idf = ln(1 + (N − df + 0.5)/(df + 0.5))).
    * The probe terms are FIXED COLUMNS, not rows: the score is a single
    * per-row expression summing the three term contributions in source
    * order, so no double ever crosses an aggregation boundary (a
    * sum()-over-term-rows would be aggregation-order-sensitive). Stats (N,
    * df per term, avgdl) are exact-integer per-lang aggregates; avgdl's
    * division and every other double op happen per-row AFTER the join with
    * the identical expression tree on both engines. ln parity: same 1-ulp
    * story as text_tfidf; fixture margins here are ≥ 2.5M ulps from any
    * floor boundary.
    *
    * Scale shape: tf extraction is map-only; the stats side aggregates to
    * one row per lang and broadcasts; top-100 plans TakeOrderedAndProject
    * on the exact integer score.
    *
    * The scoring kernel lives in [[Bm25]] — shared with `retrieval_rrf`
    * (Retrieval.scala), which fuses this lexical ranking with a dense one.
    */
  private val textBm25 =
    Q("text_bm25",
      s"""WITH ${Bm25.scoredCtes}
         |SELECT doc_id, lang, CAST(dl AS INT) AS dl,
         |  CAST(tf1 AS INT) AS tf1, CAST(tf2 AS INT) AS tf2, CAST(tf3 AS INT) AS tf3,
         |  bm25_e6
         |FROM scored
         |ORDER BY bm25_e6 DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      Bm25.scored(s, d)
        .select(col("doc_id"), col("lang"), col("dl").cast("int").as("dl"),
          col("tf1").cast("int").as("tf1"), col("tf2").cast("int").as("tf2"),
          col("tf3").cast("int").as("tf3"), col("bm25_e6"))
        .orderBy(col("bm25_e6").desc, col("doc_id"))
        .limit(100)
    }

  /** Boilerplate detection by shared leading 8-token prefix: a cheap,
    * fully-parallel screen for template headers / mirrored documents that a
    * curation pipeline runs before the (much costlier) near-dup join. One
    * map-side-combinable aggregate keyed on (lang, prefix); no joins.
    */
  private val textBoilerplate = Q("text_boilerplate",
    s"""WITH p AS (SELECT lang, doc_id,
       |    array_to_string((string_split(text, ' '))[1:8], ' ') AS prefix
       |  FROM documents)
       |SELECT lang, prefix, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM p GROUP BY lang, prefix HAVING count(*) >= 2
       |ORDER BY lang, prefix""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("prefix"))
      .groupBy("lang", "prefix")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("lang", "prefix")
  }

  /** Deterministic size-weighted sampling: a multiplicative-hash uniform
    * h(doc_id) scaled DOWN by the document's size gives a priority key
    * whose bottom-100 favors long documents (priority sampling — the
    * engine-portable stand-in for Efraimidis–Sampaios u^(1/w) keys, which
    * would need pow() and therefore libm parity). The key is pure bigint
    * arithmetic — reproducible on any engine, any partitioning — and the
    * top-k plans TakeOrderedAndProject, so at 100 TB each task keeps a
    * 100-row heap and only those spill to the driver-side merge.
    */
  private val sampleWeighted = Q("sample_weighted",
    s"""WITH k AS (SELECT doc_id, lang, n_chars,
       |    (((doc_id % 1000003) * 2654435761) % 1000000) * 100000 // n_chars AS priority
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, CAST(priority AS BIGINT) AS priority
       |FROM k ORDER BY priority, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    // doc_id % 1000003 (prime) BEFORE the Knuth multiply: with ANSI mode
    // on, doc_id * 2654435761 overflows bigint once doc_id > ~3.5e9 —
    // i.e. exactly at the corpus sizes this op exists for. The pre-mod
    // bounds the product at ~2.7e15 for ANY doc_id and is the identity
    // on every test fixture (doc_id < 1e6), so goldens are unchanged.
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr("(((doc_id % 1000003) * 2654435761L) % 1000000) * 100000 div n_chars")
          .as("priority"))
      .orderBy("priority", "doc_id")
      .limit(100)
  }

  /** Per-vector int8 symmetric quantization of the embedding column — the
    * storage/serving compression step of an embedding pipeline. scale =
    * max|x|/127; q_i = floor(x_i/scale + 0.5) (floor, not round: round()'s
    * half-tie mode is engine-specific, floor(x+0.5) is the same IEEE op
    * everywhere). Outputs are integer-exact (floor-scaled scale, |q| and
    * q² sums) so the hash compare never sees an aggregated double. Pure
    * per-row higher-order-function work: no shuffle, scales linearly, and
    * the real pipeline writes `q` itself as array<tinyint> (4× smaller at
    * rest) — here we emit its checksums for the oracle.
    */
  private val embeddingQuantize = Q("embedding_quantize",
    s"""WITH sc AS (SELECT vec_id,
       |    greatest(list_max(list_transform(embedding, x -> abs(x)))
       |      / CAST(127 AS DOUBLE), 1e-30) AS scale,
       |    embedding FROM embeddings),
       |q AS (SELECT vec_id, scale,
       |    list_transform(embedding, x ->
       |      CAST(floor(x / scale + CAST(0.5 AS DOUBLE)) AS INT)) AS qv
       |  FROM sc)
       |SELECT vec_id, CAST(floor(scale * 1000000000) AS BIGINT) AS scale_e9,
       |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs_q,
       |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sum_sq_q
       |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
    // greatest(…, 1e-30): an all-zero vector yields scale = 0, x/scale =
    // Infinity, and ANSI cast(floor(Inf) as int) is a runtime ERROR — the
    // floor guard maps zero vectors to q = 0 instead (both engines; 1e-30
    // is scientific notation, which DuckDB parses as DOUBLE, not DECIMAL).
    // No fixture vector is all-zero, so goldens are unchanged.
    Tables.embeddings(s, d)
      .withColumn("scale",
        expr("greatest(array_max(transform(embedding, x -> abs(cast(x as double)))) / 127.0D, 1e-30d)"))
      .withColumn("qv",
        expr("transform(embedding, x -> cast(floor(cast(x as double) / scale + 0.5d) as int))"))
      .select(col("vec_id"),
        expr("cast(floor(scale * 1000000000d) as bigint)").as("scale_e9"),
        expr("cast(aggregate(qv, 0L, (a, x) -> a + abs(x)) as bigint)").as("sum_abs_q"),
        expr("cast(aggregate(qv, 0L, (a, x) -> a + cast(x as bigint) * x) as bigint)").as("sum_sq_q"))
      .orderBy("vec_id")
  }

  /** Deterministic z-score outlier screen over the event stream: per
    * event_type moments computed from floor-scaled-integer values (×10³ —
    * exact bigint sums, so the parallel aggregation order can never change
    * a bit), variance/threshold derived AFTER aggregation with the same
    * expression tree on both engines, then a broadcast join of the 5-row
    * stats table back onto events counts |v−μ|>3σ rows. Two passes over
    * events but zero wide shuffles: the stats side aggregates map-side to
    * 5 rows and broadcasts.
    */
  private val eventsZscore = Q("events_zscore",
    s"""WITH v AS (SELECT event_type,
       |    CAST(floor(value * 1000) AS BIGINT) AS sv FROM events),
       |st AS (SELECT event_type, count(*) AS n,
       |    sum(sv) AS s1, sum(sv * sv) AS s2 FROM v GROUP BY event_type),
       |m AS (SELECT event_type, n,
       |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var FROM st)
       |SELECT v.event_type, CAST(m.n AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN (CAST(v.sv AS DOUBLE) - m.mean)
       |      * (CAST(v.sv AS DOUBLE) - m.mean) > CAST(9 AS DOUBLE) * m.var
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM v JOIN m ON v.event_type = m.event_type
       |GROUP BY v.event_type, m.n ORDER BY v.event_type""".stripMargin) { (s, d) =>
    val v = Tables.events(s, d)
      .select(col("event_type"), expr("cast(floor(value * 1000d) as bigint)").as("sv"))
    // decimal-before-multiply/sum: the oracle's Σsv and Σsv² run in
    // HUGEINT; LongType sums wrap once n·sv (or n·sv²) passes 9.2e18 —
    // widen to decimal so mean/var stay exact at corpus scale (the final
    // outputs are DOUBLE/BIGINT either way)
    val st = v.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(expr("cast(sv as decimal(19,0))")).as("s1"),
        sum(expr("cast(sv as decimal(19,0)) * sv")).as("s2"))
      .withColumn("mean", expr("cast(s1 as double) / cast(n as double)"))
      .withColumn("var", expr(
        "cast(s2 as double) / cast(n as double) - " +
          "(cast(s1 as double) / cast(n as double)) * (cast(s1 as double) / cast(n as double))"))
      .select("event_type", "n", "mean", "var")
    v.join(broadcast(st), "event_type")
      .groupBy("event_type", "n")
      .agg(sum(when(
        expr("(cast(sv as double) - mean) * (cast(sv as double) - mean) > 9.0d * var"),
        1).otherwise(0)).as("n_outliers"))
      .select(col("event_type"), col("n"), col("n_outliers"))
      .orderBy("event_type")
  }

  /** CDC/merge apply — the reference lifecycle's "incremental append of
    * completed runs" as a MERGE INTO: a deterministic change-set (updates
    * for custkey % 7, inserts above the key space for custkey % 13) full-
    * outer-joins the base on the key and each row resolves to update /
    * insert / keep. Spark has no MERGE INTO sink on plain parquet, but the
    * full-outer + coalesce rewrite IS the engine-level plan a lakehouse
    * merge executes (join on the merge key, both sides hash-partitioned —
    * full outer cannot broadcast, so the shape is one SortMergeJoin and it
    * scales with the shuffle). The +100.0 balance bump is double-exact on
    * both engines (inputs are 2-dp money values).
    */
  /** Reusable MERGE INTO kernel: resolve a keyed change-set against a base
    * table. base: (c_custkey, c_acctbal); changes: (k, bal). Output tags
    * each row U (updated), I (inserted) or K (kept). Full-outer SMJ on the
    * merge key — the engine plan a lakehouse merge executes. Precondition
    * (standard MERGE semantics): change keys are unique — duplicates would
    * fan out the base row, exactly the error ANSI MERGE rejects.
    */
  def applyChanges(base: DataFrame, changes: DataFrame): DataFrame =
    base.join(changes, col("c_custkey") === col("k"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        coalesce(col("bal"), col("c_acctbal")).as("acctbal"),
        when(col("c_custkey").isNull, "I")
          .when(col("k").isNull, "K").otherwise("U").as("op"))

  private val mergeUpsert = Q("merge_upsert",
    s"""WITH chg AS (
       |  SELECT c_custkey AS k, c_acctbal + 100 AS bal FROM customer
       |  WHERE c_custkey % 7 = 0
       |  UNION ALL
       |  SELECT c_custkey + 1000000 AS k, c_acctbal AS bal FROM customer
       |  WHERE c_custkey % 13 = 0),
       |m AS (SELECT coalesce(b.c_custkey, chg.k) AS c_custkey,
       |    coalesce(chg.bal, b.c_acctbal) AS acctbal,
       |    CASE WHEN b.c_custkey IS NULL THEN 'I'
       |         WHEN chg.k IS NULL THEN 'K' ELSE 'U' END AS op
       |  FROM customer b FULL OUTER JOIN chg ON b.c_custkey = chg.k)
       |SELECT c_custkey, acctbal, op FROM m
       |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val base = Tables.customer(s, d).select("c_custkey", "c_acctbal")
    val chg = base.filter(expr("c_custkey % 7 = 0"))
      .select(col("c_custkey").as("k"), (col("c_acctbal") + 100).as("bal"))
      .unionByName(base.filter(expr("c_custkey % 13 = 0"))
        .select((col("c_custkey") + 1000000L).as("k"), col("c_acctbal").as("bal")))
    applyChanges(base, chg).orderBy("c_custkey")
  }

  /** Last-touch attribution: each purchase is attributed to the same
    * user's LATEST strictly-earlier view/click within 24 h — a direct
    * reuse of the AsofJoin operator (union-merge rewrite: ONE shuffle of
    * |purchases|+|touches| rows, never the O(pairs) equi+rank explosion),
    * with the 24 h window applied as a residual filter on the attached
    * touch timestamp. The oracle twin is a LATERAL top-1 (DuckDB's native
    * ASOF JOIN rejects the extra window bound — "Multiple ASOF JOIN
    * inequalities" — even when the bound is written as an outer filter,
    * because the optimizer folds it back into the join); ORDER BY ts DESC,
    * event_id DESC LIMIT 1 reproduces AsofJoin's greatest-tie-wins rule.
    */
  private val attributionLastTouch = Q("attribution_last_touch",
    s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
       |  WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
       |  FROM events WHERE event_type IN ('view', 'click'))
       |SELECT tt.event_type AS touch_type, count(*) AS n_purchases,
       |  count(DISTINCT p.user_id) AS n_users
       |FROM p, LATERAL (SELECT event_type, ts_us FROM t
       |  WHERE t.user_id = p.user_id AND t.ts_us < p.ts_us
       |  ORDER BY ts_us DESC, event_id DESC LIMIT 1) AS tt
       |WHERE tt.ts_us >= p.ts_us - 86400000000
       |GROUP BY touch_type ORDER BY touch_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us")
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
    graft.operators.AsofJoin.lastEarlier(purchases, touches,
      key = "user_id", ts = "ts_us",
      payload = Seq("ts_us", "event_type"), rightTie = "event_id")
      .filter(col("asof_ts_us").isNotNull &&
        col("asof_ts_us") >= col("ts_us") - 86400000000L)
      .groupBy(col("asof_event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), countDistinct("user_id").as("n_users"))
      .orderBy("touch_type")
  }

  /** Near-dup graph degree per document: how many neighbors each doc has
    * in the capped-Jaccard pair graph (isolated docs report 0) — the
    * diagnostic a dedup pipeline reads before choosing cluster retention
    * policy (a fat-tailed degree histogram means boilerplate families).
    * Reuses the LlmOps pair kernel (`pairEdges`) — same df-capped
    * shingle equi-join, no all-pairs anywhere — then one symmetric union
    * + count and a left join back onto documents. The degree table is
    * O(|docs with a neighbor|): within the CC local-solve bound the edges
    * are a driver literal and the join broadcasts it; over the bound they
    * are the cached pair frame and the join shuffles on doc_id like any
    * fact-fact equi-join.
    */
  private val graphDegree = Q("graph_degree",
    s"""WITH ${LlmOps.jaccardCte},
       |sym AS (SELECT da AS a, db AS b FROM jpairs
       |  UNION ALL SELECT db, da FROM jpairs),
       |deg AS (SELECT a AS doc_id, count(*) AS degree FROM sym GROUP BY a)
       |SELECT d.doc_id, CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree
       |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val jp = LlmOps.pairEdges(s, d)
    val sym = jp.select(col("da").as("a"))
      .unionByName(jp.select(col("db").as("a")))
    val deg = sym.groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("degree"))
      .withColumnRenamed("doc_id", "g_id")
    Tables.documents(s, d).select("doc_id")
      .join(deg, col("doc_id") === col("g_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .orderBy("doc_id")
  }

  /** User-journey transition matrix: per-user consecutive event pairs
    * (lag window) counted into the 5×5 Markov transition table — the
    * funnel/cohort sibling that answers "what do users do NEXT". The lag
    * window partitions by user_id (per-key sort in one hash exchange) and
    * the count is map-side combinable to ≤ |types|² rows.
    */
  private val eventsTransitions = Q("events_transitions",
    s"""WITH o AS (SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events)
       |SELECT prev, event_type AS next, count(*) AS n
       |FROM o WHERE prev IS NOT NULL
       |GROUP BY prev, next ORDER BY prev, next""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev", "next")
  }

  /** Conditional next-event entropy per from-state — H(next | prev) over
    * the user-session transition counts: the sequence-predictability
    * number behind "is this event stream worth a Markov model" (0 nats =
    * deterministic follow-up; ln|types| = uniform chaos; pairs with
    * [[eventsTransitions]], which ships the raw matrix this collapses).
    * The col_entropy ln discipline end to end: each transition share's
    * log-probability floor-snaps to an exact ×10⁶ BIGINT (per-cell — one
    * deterministic libm call per (prev, next), never a cross-group double
    * sum), Σ n·lp_e6 accumulates exactly in DECIMAL, and the entropy
    * ships INTEGER-ONLY as h_e6 = (−Σ n·lp_e6) div tot — algebraically
    * floor(1e6·H) because the 1e6 scales cancel, so not even the final
    * division touches a double (one step stricter than col_entropy's
    * closing double). Scale: the O(data) stage is ONE per-user lag
    * window (day-unbounded but user-partitioned — each task sorts one
    * user's history) plus ONE combinable count onto the bounded
    * |types|² transition domain; everything after runs there.
    */
  private val eventsMarkovEntropy = Q("events_markov_entropy",
    s"""WITH o AS (SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |c AS (SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
       |  FROM o WHERE prev IS NOT NULL GROUP BY prev, next),
       |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot,
       |    CAST(count(*) AS BIGINT) AS n_next FROM c GROUP BY prev),
       |lp AS (SELECT c.prev, c.n,
       |    CAST(floor(ln(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lp_e6
       |  FROM c JOIN t ON c.prev = t.prev)
       |SELECT t.prev, t.n_next, t.tot,
       |  CAST((-sum(CAST(lp.n AS HUGEINT) * lp.lp_e6)) // t.tot AS BIGINT) AS h_e6
       |FROM lp JOIN t ON lp.prev = t.prev
       |GROUP BY t.prev, t.n_next, t.tot ORDER BY t.prev""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val c = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val t = c.groupBy("prev")
      .agg(sum("n").as("tot"), count(lit(1)).as("n_next"))
    c.join(broadcast(t), "prev")
      .withColumn("lp_e6", expr(
        "cast(floor(ln(cast(n as double) / cast(tot as double)) * 1000000.0d + 0.5d) as bigint)"))
      // decimal-before-multiply (the col_entropy overflow note): n ~1e12
      // × lp_e6 ~4e7 wraps int64; DECIMAL(38,0) stays exact
      .groupBy("prev", "n_next", "tot")
      .agg(sum(expr("cast(n as decimal(19,0)) * lp_e6")).as("slp"))
      .select(col("prev"), col("n_next"), col("tot"),
        // negation spelled 0 − x, never unary minus: Spark's columnar
        // decimal negate rounds to 34 significant digits (the safeAbs
        // contract) — unreachable at |slp| ≤ 34 digits, enforced anyway
        expr("cast((cast(0 as decimal(38,0)) - cast(slp as decimal(38,0)))" +
          " div cast(tot as decimal(38,0)) as bigint)")
          .as("h_e6"))
      .orderBy("prev")
  }

  /** Deterministic 5-fold cross-validation assignment with a per-fold
    * stratification audit — the ML-experiment plumbing step before any
    * train/eval split ships: every vector gets fold = Knuth-hash(vec_id)
    * mod 5 (multiplicative hashing, NOT vec_id % 5 — sequential ids would
    * stripe correlated neighbors into the same fold), and the output is
    * the (fold, label) count matrix with each fold's label share, which
    * is what reviewers check for stratification skew. Parity: the hash
    * product runs decimal-before-multiply (vec_id·2654435761 wraps
    * LongType once ids pass ~3.5e9) and the 2^32 mod keeps the mixed
    * high bits; all counts exact BIGINT, the share a final double with
    * identical shape. Shape: map-side fold/label tagging + ONE combinable
    * aggregate to a 50-row matrix + a 5-row broadcast join — scale-free.
    */
  /** The ONE fold-assignment formula behind `ml_folds` and `ml_score`:
    * Knuth-hash(vec_id) mod 5, decimal-before-multiply (see mlFolds
    * scaladoc for why not vec_id % 5). Identical text on both engines. */
  private val foldExpr =
    "cast(cast(cast(vec_id as decimal(19,0)) * 2654435761 % 4294967296 as bigint) % 5 as int)"
  private val foldSql =
    "CAST(CAST(CAST(vec_id AS DECIMAL(19,0)) * 2654435761 % 4294967296 AS BIGINT) % 5 AS INT)"

  private val mlFolds = Q("ml_folds",
    s"""WITH f AS (SELECT
       |    $foldSql AS fold,
       |    label FROM embeddings),
       |m AS (SELECT fold, label, count(*) AS n FROM f GROUP BY fold, label),
       |t AS (SELECT fold, CAST(sum(n) AS BIGINT) AS fold_n FROM m GROUP BY fold)
       |SELECT m.fold, m.label, m.n, t.fold_n,
       |  CAST(m.n AS DOUBLE) / CAST(t.fold_n AS DOUBLE) AS label_share
       |FROM m JOIN t ON m.fold = t.fold
       |ORDER BY m.fold, m.label""".stripMargin) { (s, d) =>
    val f = Tables.embeddings(s, d).select(
      expr(foldExpr).as("fold"),
      col("label"))
    val m = f.groupBy("fold", "label").agg(count(lit(1)).as("n"))
    val t = m.groupBy("fold").agg(sum("n").as("fold_n"))
    m.join(broadcast(t), "fold")
      .select(col("fold"), col("label"), col("n"), col("fold_n"),
        expr("cast(n as double) / cast(fold_n as double)").as("label_share"))
      .orderBy("fold", "label")
  }

  /** Deterministic ML-inference under the oracle (r12) — the keyed twin
    * of the MlSpec RF pipeline, on the same derived separable target (the
    * sign of the first embedding component; the fixture's `label` column
    * is independent of the vectors, so supervised structure must come
    * from a derived target): a nearest-centroid classifier FIT on the
    * ml_folds train split (folds 1–4) and SCORED on the held-out fold 0,
    * entirely in exact ×10⁶-quantized integer space. The per-class score
    * is the exact integer 2·x·μ_c − |μ_c|² (the monotone twin of
    * −|x−μ_c|², all BIGINT), fold assignment is the shared Knuth-hash
    * formula, and centroid means use truncating integer division
    * (`div`/`//`, the kmeans_iter discipline) — every output column is an
    * exact integer, so the full fit+score pipeline hash-matches DuckDB.
    * Shape at scale: fit = ONE combinable (class, pos) aggregate reduced
    * to a 2×64 model table, model broadcast back, scoring map-side with a
    * combinable struct-argmax — the standard broadcast-inference plan; no
    * driver round-trip. Holdout accuracy (0.87 at sf0.01, 0.92 at sf0.1)
    * gated > majority and ≥ 0.7 in MlSpec.
    */
  private val mlScore = Q("ml_score",
    s"""WITH q AS (SELECT vec_id, $foldSql AS fold,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |t AS (SELECT vec_id, fold, qv,
       |    CASE WHEN qv[1] > 0 THEN 1 ELSE 0 END AS target FROM q),
       |u AS (SELECT target, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos
       |  FROM t WHERE fold <> 0),
       |cl AS (SELECT target AS c, pos, CAST(sum(x) // count(*) AS BIGINT) AS cve
       |  FROM u GROUP BY target, pos),
       |cent AS (SELECT c, list(cve ORDER BY pos) AS cv FROM cl GROUP BY c),
       |sc AS (SELECT t.vec_id, t.target, c.c,
       |    CAST(2 * list_sum(list_transform(generate_series(1, 64), i -> t.qv[i] * c.cv[i]))
       |       - list_sum(list_transform(generate_series(1, 64), i -> c.cv[i] * c.cv[i])) AS BIGINT) AS s
       |  FROM t CROSS JOIN cent c WHERE t.fold = 0),
       |r AS (SELECT vec_id, target, c, s,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS rn FROM sc)
       |SELECT vec_id, CAST(target AS INT) AS target, CAST(c AS INT) AS pred,
       |  s AS score, CAST(CASE WHEN c = target THEN 1 ELSE 0 END AS INT) AS correct
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
    val q = graft.Caching.ensureCached(Tables.embeddings(s, d).select(
      col("vec_id"), expr(foldExpr).as("fold"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))")
        .as("qv"))
      .withColumn("target", expr("case when element_at(qv, 1) > 0 then 1 else 0 end")))
    val cl = q.filter(col("fold") =!= 0)
      .select(col("target").as("c"), posexplode(col("qv")))
      .groupBy("c", "pos")
      .agg(expr("cast(sum(col) div count(*) as bigint)").as("cve"))
    // collect_list order is partition-dependent; array_sort on the
    // (pos, cve) struct restores the deterministic component order
    val cent = cl.groupBy("c")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cve))), x -> x.cve)").as("cv"))
    val sc = q.filter(col("fold") === 0)
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("target"), col("c"),
        expr("""cast(2 * aggregate(zip_with(qv, cv, (a, b) -> a * b),
               |  cast(0 as bigint), (acc, v) -> acc + v)
               |  - aggregate(cv, cast(0 as bigint), (acc, v) -> acc + v * v)
               |  as bigint)""".stripMargin).as("s"))
    // argmax class by (score desc, class asc) as a COMBINABLE aggregate:
    // min(struct(-s, c)) — no per-vector window pass (kmeans_iter shape)
    sc.groupBy(col("vec_id"), col("target"))
      .agg(min(struct((-col("s")).as("ns"), col("c"))).as("m"))
      .select(col("vec_id"), col("target").cast("int").as("target"),
        col("m.c").cast("int").as("pred"), (-col("m.ns")).as("score"),
        expr("cast(case when m.c = target then 1 else 0 end as int)").as("correct"))
      .orderBy("vec_id")
  }

  /** Zipf slope of the token rank-frequency curve — the corpus-health
    * number a pipeline tracks per ingest source (natural text sits near
    * −1; template/boilerplate-heavy or truncated corpora drift off it;
    * pairs with [[textBoilerplate]] and the `text_repetition` screen).
    * Log-log OLS over the DETERMINISTIC top-500 tokens (tf DESC, token
    * ASC tie-break — both engines cut the same set): ln(rank)/ln(tf)
    * snap to ×10⁶ integers (the col_entropy ln discipline), and the
    * slope is ExactRatio's Slope tail: slope_e6 =
    * sign(num)·floor(1e6·|num|/den) over exact 128-bit cross-products
    * (exactness contract: [[ExactRatio]]). Scale: the tf aggregate is the only
    * O(data) stage; top-500 plans as a bounded TakeOrdered heap and the
    * rank window runs on 500 rows (bounded by construction, never a
    * global sort of the vocabulary).
    */
  private val textZipf = Q("text_zipf",
    s"""WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents),
       |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM toks
       |  WHERE tok <> '' GROUP BY tok),
       |top AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok LIMIT 500),
       |rk AS (SELECT tf,
       |    CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS r FROM top),
       |sn AS (SELECT
       |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
       |  FROM rk),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n, ${duckCols(Slope.sums(DuckF, "x", "y"))} FROM sn)
       |SELECT n, ${duckCols(Slope.presentation(DuckF, "slope_e6"))}
       |FROM ${ExactRatio.applyDuck(s"SELECT n, ${duckCols(Slope(DuckF).columns)}" +
          s" FROM m WHERE ${Slope(DuckF).nonDegenerate}",
          Slope.stages(DuckF))} q""".stripMargin) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("tf"))
    val top = tf.orderBy(col("tf").desc, col("tok")).limit(500)
    // single-partition rank window over ≤500 rows — bounded by the LIMIT,
    // not by data size (the topk_diverse discipline)
    val rk = top.withColumn("r",
      row_number().over(Window.orderBy(col("tf").desc, col("tok"))).cast("bigint"))
    val sn = rk.select(
      expr("cast(floor(ln(cast(r as double)) * 1000000 + 0.5) as bigint)").as("x"),
      expr("cast(floor(ln(cast(tf as double)) * 1000000 + 0.5) as bigint)").as("y"))
    val m = sn.agg(count(lit(1)).as("n"), sparkCols(Slope.sums(SparkF, "x", "y")): _*)
    val base = m.filter(expr(Slope(SparkF).nonDegenerate))
      .select(col("n") +: sparkCols(Slope(SparkF).columns): _*)
    ExactRatio.applySparkDomain(base, Slope.stages(SparkF))
      .select(col("n") +: sparkCols(Slope.presentation(SparkF, "slope_e6")): _*)
  }

  /** Data-quality expectation audit — the rule table a pipeline publishes
    * before promoting a batch: one row per rule with exact violation and
    * population counts (range rules on lineitem, referential-integrity
    * anti-checks orders→customer and customer→nation, primary-key
    * duplication on orders). Each base table is scanned ONCE: same-table
    * range rules ride a single conditional aggregate and unstack via
    * `stack` (never one pass per rule); the FK checks aggregate THROUGH a
    * row-preserving left join (PK side unique), so orphan count, row
    * count, and distinct-PK count share the scan. The discount range rule
    * compares floor-scaled integer cents — never raw doubles. A rule with
    * zero violations still reports (a DQ audit's "pass" rows are the
    * point); totals make every violation count a rate. At 100 TB each
    * rule family stays one combinable aggregate over its fact table; the
    * FK joins shuffle on the key or broadcast the 25-row nation side. */
  private val dqAudit = Q("dq_audit",
    s"""WITH li AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
       |      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
       |    CAST(sum(CASE WHEN CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
       |      NOT BETWEEN 0 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
       |    CAST(sum(CASE WHEN l_extendedprice <= 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS v_price
       |  FROM lineitem),
       |ord AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v_orphan,
       |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup
       |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
       |cu AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS v_orphan
       |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey)
       |SELECT rule, violations, total FROM (
       |  SELECT 'lineitem_qty_range' AS rule, v_qty AS violations,
       |    n AS total FROM li
       |  UNION ALL SELECT 'lineitem_disc_range', v_disc, n FROM li
       |  UNION ALL SELECT 'lineitem_price_pos', v_price, n FROM li
       |  UNION ALL SELECT 'orders_orphan_cust', v_orphan, n FROM ord
       |  UNION ALL SELECT 'orders_dup_pk', v_dup, n FROM ord
       |  UNION ALL SELECT 'customer_orphan_nation', v_orphan, n FROM cu)
       |ORDER BY rule""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n"),
        sum(when(expr("l_quantity < 1 or l_quantity > 50"), 1L)
          .otherwise(0L)).as("v_qty"),
        sum(when(expr("cast(floor(l_discount * 100 + 0.5) as bigint)" +
          " not between 0 and 10"), 1L).otherwise(0L)).as("v_disc"),
        sum(when(expr("l_extendedprice <= 0"), 1L).otherwise(0L))
          .as("v_price"))
      .selectExpr("stack(3, 'lineitem_qty_range', v_qty," +
        " 'lineitem_disc_range', v_disc, 'lineitem_price_pos', v_price)" +
        " as (rule, violations)", "n as total")
    val ord = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v_orphan"),
        (count(lit(1)) - countDistinct("o_orderkey")).as("v_dup"))
      .selectExpr("stack(2, 'orders_orphan_cust', v_orphan," +
        " 'orders_dup_pk', v_dup) as (rule, violations)", "n as total")
    val cu = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_nationkey").isNull, 1L).otherwise(0L)).as("v_orphan"))
      .selectExpr("stack(1, 'customer_orphan_nation', v_orphan)" +
        " as (rule, violations)", "n as total")
    li.unionAll(ord).unionAll(cu).orderBy("rule")
  }

  val all: Seq[Q] = Seq(scdType2, intervalCoverage, tokenVocab, textTfidf,
    textBm25, textBoilerplate, sampleWeighted, embeddingQuantize,
    eventsZscore, mergeUpsert, attributionLastTouch, graphDegree,
    eventsTransitions, eventsMarkovEntropy, mlFolds, mlScore, invertedIndex,
    textZipf, intervalConcurrency, dqAudit)
}

/** The ONE owner of the BM25 scoring kernel (k1 = 1.2, b = 0.75; probe
  * terms fixed) used by `text_bm25` and `retrieval_rrf` — both engines'
  * expression trees are generated from the same builders here, so the two
  * keys' lexical rankings cannot drift apart. All determinism caveats
  * (fixed-column terms so no double crosses an aggregation, floor-rounding
  * to an exact BIGINT score, CAST(k AS DOUBLE) literal spelling for DuckDB)
  * are documented on `text_bm25` above.
  */
private[queries] object Bm25 {
  private val terms = Seq("fast", "merge", "column")
  private def tfO(i: Int) =
    s"len(list_filter(string_split(lower(text), ' '), x -> x = '${terms(i - 1)}')) AS tf$i"
  private def tfS(i: Int) =
    s"size(filter(split(lower(text), ' '), x -> x = '${terms(i - 1)}')) AS tf$i"
  // one term's BM25 contribution; identical text on both engines except
  // the double-literal spelling (DuckDB parses bare decimals as DECIMAL)
  private def term(i: Int, c: String => String) =
    s"""ln(${c("1")} + (cast(n_docs as double) - cast(df$i as double) + ${c("0.5")})
       |  / (cast(df$i as double) + ${c("0.5")}))
       |* (cast(tf$i as double) * ${c("2.2")})
       |/ (cast(tf$i as double) + ${c("1.2")} * (${c("0.25")} + ${c("0.75")} * cast(dl as double) / avgdl))""".stripMargin
  private def score(c: String => String) =
    s"cast(floor((${term(1, c)} + ${term(2, c)} + ${term(3, c)}) * ${c("1000000")} + ${c("0.5")}) as bigint)"
  private val duck: String => String = k => s"CAST($k AS DOUBLE)"
  private val spark: String => String = k => s"${k}d"

  /** DuckDB CTE chain `f, st, scored`; `scored` = one row per MATCHED doc
    * (tf1+tf2+tf3 > 0): (doc_id, lang, dl, tf1, tf2, tf3, bm25_e6).
    */
  val scoredCtes: String =
    s"""f AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS dl,
       |    ${tfO(1)}, ${tfO(2)}, ${tfO(3)} FROM documents),
       |st AS (SELECT lang, count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
       |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
       |  FROM f GROUP BY lang),
       |scored AS (SELECT doc_id, f.lang AS lang, dl, tf1, tf2, tf3,
       |    ${score(duck)} AS bm25_e6
       |  FROM f JOIN st ON f.lang = st.lang
       |  WHERE tf1 + tf2 + tf3 > 0)""".stripMargin

  /** Spark twin of [[scoredCtes]]'s `scored`: per-matched-doc BM25 frame
    * (doc_id, lang, dl, tf1, tf2, tf3, bm25_e6). Map-only scoring pass +
    * a one-row-per-lang broadcast stats join — at 100 TB this is one
    * corpus scan with a tiny dimension.
    */
  def scored(s: SparkSession, d: String): DataFrame = {
    val f = Tables.documents(s, d).selectExpr("doc_id", "lang",
      "size(split(text, ' ')) AS dl", tfS(1), tfS(2), tfS(3))
    val st = f.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      expr("cast(sum(dl) as double) / count(1)").as("avgdl"),
      sum(when(col("tf1") > 0, 1).otherwise(0)).as("df1"),
      sum(when(col("tf2") > 0, 1).otherwise(0)).as("df2"),
      sum(when(col("tf3") > 0, 1).otherwise(0)).as("df3"))
    f.join(broadcast(st), "lang")
      .filter(expr("tf1 + tf2 + tf3 > 0"))
      .withColumn("bm25_e6", expr(score(spark)))
      .select("doc_id", "lang", "dl", "tf1", "tf2", "tf3", "bm25_e6")
  }
}
