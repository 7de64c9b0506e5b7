package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.ExactRatio
import graft.functions.ExactRatio.{DuckF, Slope, SparkF, duckCols, e6, sparkCols}

/** Round-12 corpus-preparation suite (SURVEY.md §2.13 extension): the four
  * document-level operations a training-data pipeline runs between raw
  * ingest and tokenization — RAG-style overlapping chunking, deterministic
  * train/val/test assignment, C4-style duplicated-chunk REMOVAL (the
  * mutation step `dedup_chunk` only detects), and a cross-source
  * contamination matrix.
  *
  * Shared determinism rules (SURVEY §7.3): no rand() anywhere — the split
  * derives from integer arithmetic on doc_id; chunk boundaries are pure
  * integer functions of the token count; every oracled output ends in a
  * total ORDER BY; doubles appear only AFTER aggregation as one division of
  * exact BIGINTs (bit-identical on both engines).
  */
object Corpus {

  /** RAG-style sliding-window chunking: 8-token windows at stride 4 (50%
    * overlap); the LAST window may be short (5–8 tokens) so that every
    * token of the document is covered — start positions are
    * `sequence(1, greatest(1, n-4), 4)`, whose final start is always
    * ≥ n-7 (consecutive starts differ by the stride), so the tail is
    * never dropped. A pure function of the token count, so both engines
    * enumerate identical windows and `chunk_idx` falls out arithmetically
    * as `(start-1)/4 + 1` (no ordinality dependence). Shuffle shape: NONE
    * before the presentation sort — split/sequence/explode/slice are all
    * map-side and stay inside one whole-stage-codegen span; at 100 TB
    * this is embarrassingly parallel and the output sort would simply be
    * dropped (it exists for the oracle's total order).
    */
  private val chunkOverlap = Q("chunk_overlap",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, w, unnest(generate_series(1, greatest(1, len(w) - 4), 4)) AS st
       |  FROM t)
       |SELECT doc_id, (st - 1) // 4 + 1 AS chunk_idx, st AS start_tok,
       |  least(CAST(8 AS BIGINT), len(w) - st + 1) AS n_tok,
       |  array_to_string(w[st : st + 7], ' ') AS chunk
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(1L, greatest(1L, size(w) - 4L), 4L)")).as("st"))
      .select(col("doc_id"),
        expr("(st - 1) div 4 + 1").as("chunk_idx"),
        col("st").as("start_tok"),
        expr("least(8L, size(w) - st + 1)").as("n_tok"),
        expr("concat_ws(' ', slice(w, int(st), 8))").as("chunk"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Deterministic train/val/test assignment: bucket = Knuth multiplicative
    * hash `(doc_id * 2654435761) % 1000`, split at 800/900 (80/10/10).
    * Both engines evaluate the same exact BIGINT arithmetic, so the
    * assignment is reproducible across engines, runs, partitionings and
    * retries — the property that makes the split *auditable* (any job can
    * recompute membership from the id alone; no stored split table, no
    * rand()). Map-only: zero shuffles before the presentation sort; at
    * 100 TB this is a free column. For ids wider than ~2^33 swap the
    * multiply for xxhash64(doc_id) — same shape, but no longer
    * SQL-oracle-portable, which is why the keyed query uses the
    * multiplicative form.
    */
  private val datasetSplit = Q("dataset_split",
    s"""SELECT doc_id, lang, source,
       |  (doc_id * 2654435761) % 1000 AS bucket,
       |  CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
       |       WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("(doc_id * 2654435761L) % 1000").as("bucket"))
      .withColumn("split",
        expr("CASE WHEN bucket < 800 THEN 'train' WHEN bucket < 900 THEN 'val' ELSE 'test' END"))
      .orderBy("doc_id")
  }

  /** C4/RefinedWeb-style duplicated-chunk REMOVAL: every aligned 6-token
    * chunk that appears in >= 2 distinct documents (the exact population
    * `dedup_chunk` ranks) is stripped from every document, and the
    * surviving chunks are reassembled in order. Docs whose every chunk is
    * duplicated survive as empty strings (count-preserving — downstream
    * length filters decide their fate, not this op).
    *
    * Shuffle shape at 100 TB: (1) one hash aggregation keyed on the chunk
    * to find the duplicated set (counts combine map-side, so a
    * pathologically hot chunk is one combiner key, not a hot partition);
    * (2) one LEFT ANTI join of chunks against that set, hash-partitioned
    * on the chunk string (Spark hashes the key — no sort, no broadcast of
    * the potentially-huge dup set); (3) one groupBy(doc_id) reassembly
    * where `array_sort(collect_list(struct(ci, chunk)))` restores chunk
    * order per doc without any global sort. Nothing touches the driver.
    *
    * The chunk explode feeds three consumers (dup aggregation, anti-join
    * probe, per-doc totals). Since r17 it is CACHED, not recomputed: the
    * scan-count audit showed the three recomputations each re-read
    * documents (3 parquet scans), and the consumers read it through
    * different exchanges, so Spark's exchange reuse cannot share it. The
    * cache is O(corpus tokens) — unlike the other cache sites, which are
    * bounded (vocabulary/user/1-row domains) — so the trade is explicit:
    * MEMORY_AND_DISK (the persist default) spills chunk batches to local
    * disk instead of failing, the cached projection is already the
    * minimal 3 columns every consumer needs (doc_id, ci, chunk — chunk
    * itself IS the payload, so no narrower cache exists), and a 100 TB
    * deployment that would rather pay 3 map-only scans than a
    * corpus-sized spill simply drops the ensureCached wrapper — the plan
    * is correct either way; only the scan count changes (PlansSpec pins
    * the cached shape at 1).
    */
  private val dedupStrip = Q("dedup_strip",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ci AS (SELECT doc_id, w, unnest(generate_series(1, (len(w) + 5) // 6)) AS ci FROM toks),
       |ch AS (SELECT doc_id, ci, array_to_string(w[(ci-1)*6+1 : ci*6], ' ') AS chunk FROM ci),
       |dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
       |kept AS (SELECT doc_id, ci, chunk FROM ch WHERE chunk NOT IN (SELECT chunk FROM dup)),
       |agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS clean_text,
       |    count(*) AS n_kept FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
       |  coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       |  t.n_chunks - coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_removed
       |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    // cached: dup, the anti-join probe side and the per-doc totals are
    // three consumers — uncached each re-tokenized documents (r17 scan
    // audit: 3 scans -> 1)
    val ch = graft.Caching.ensureCached(Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, (size(w) + 5) div 6), i -> concat_ws(' ', slice(w, (i-1)*6+1, 6)))")))
      .select(col("doc_id"), (col("pos") + 1).as("ci"), col("col").as("chunk")))
    val dup = ch.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("chunk")
    val kept = ch.join(dup, Seq("chunk"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(ci, chunk))), x -> x.chunk)"))
        .as("clean_text"),
      count(lit(1)).as("n_kept"))
    val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    tot.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix: for every source pair (a < b), the
    * number of distinct aligned 6-token chunks both contain, each side's
    * distinct-chunk count, and the overlap coefficient
    * `n_common / min(n_a, n_b)` (one division of exact BIGINTs). This is
    * the source-granular form of `decontaminate` — it quantifies
    * benchmark/source leakage BEFORE choosing what to drop.
    *
    * Shuffle shape: distinct (source, chunk) is one hash aggregation; the
    * pair counts come from a self-equi-join keyed on the chunk string —
    * fan-out per chunk is bounded by the number of sources carrying it
    * (<= |sources|, 20 here), never |docs|. The per-source sizes are a
    * tiny aggregate, broadcast to the pair counts. At very large source
    * counts the same result reshapes as groupBy(chunk).collect_set(source)
    * (bounded by |sources|) + pair explosion — noted, not needed at this
    * cardinality.
    */
  private val sourceOverlap = Q("source_overlap",
    s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       |ch AS (SELECT DISTINCT source, unnest(list_transform(generate_series(1, (len(w)+5)//6),
       |    i -> array_to_string(w[(i-1)*6+1 : i*6], ' '))) AS chunk FROM toks),
       |sz AS (SELECT source, count(*) AS n FROM ch GROUP BY source),
       |ov AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
       |  FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_common AS DOUBLE) / least(sa.n, sb.n) AS overlap
       |FROM ov JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
    // the distinct chunk table has THREE consumers (sizes + both self-join
    // sides); all three read it through its distinct's one exchange,
    // which Spark reuses, so documents is tokenized once without a cache
    val ch = Tables.documents(s, d)
      .select(col("source"), split(col("text"), " ").as("w"))
      .select(col("source"), explode(expr(
        "transform(sequence(1, (size(w) + 5) div 6), i -> concat_ws(' ', slice(w, (i-1)*6+1, 6)))"))
        .as("chunk"))
      .distinct()
    val sz = ch.groupBy("source").agg(count(lit(1)).as("n"))
    val ov = ch.as("a").join(ch.as("b"),
        expr("a.chunk = b.chunk AND a.source < b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    ov.join(broadcast(sz.as("sa")), col("src_a") === col("sa.source"))
      .join(broadcast(sz.as("sb")), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("n_common"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        expr("cast(n_common as double) / least(sa.n, sb.n)").as("overlap"))
      .orderBy("src_a", "src_b")
  }

  /** Morton z-value computation for the write-side 2-D clustering layout
    * (sources/Layout.writeZOrdered): interleave 16 low bits of user_id
    * with 16 bits of the ~67 s time bucket `ts_us >> 26`. The key exists
    * to put the layout device itself under the oracle — the SAME Scala
    * loop (Layout.zvalueSql) emits the formula for both engines, so a
    * drift in the interleave (the thing file-skipping correctness hangs
    * on) is a hash mismatch, not a silent mis-clustering. Map-only exact
    * shift/mask/or BIGINT terms; zero shuffles before the presentation
    * sort; LayoutSpec measures the skipping payoff on real files.
    */
  private val layoutZvalue = Q("layout_zvalue",
    s"""SELECT event_id, user_id, epoch_us(ts) >> 26 AS tbucket,
       |  ${graft.sources.Layout.zvalueSql("user_id", "(epoch_us(ts) >> 26)", 16)} AS zval
       |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("shiftright(ts_us, 26)").as("tbucket"),
        graft.sources.Layout.zvalue(col("user_id"),
          expr("shiftright(ts_us, 26)"), 16).as("zval"))
      .orderBy("event_id")
  }

  /** Corpus-saturation curve: per doc (in doc_id ingestion order), how
    * many of its aligned 6-token chunks were NEVER seen in any earlier
    * document — the marginal-novelty measurement that tells a crawl when
    * additional data stops adding information. A chunk's first owner is
    * `min(doc_id)` over its occurrences, so novelty needs no ordered scan:
    * one chunk-keyed combinable min-aggregation (first owners), one
    * per-doc distinct-chunk count, one join back — all hash-partitioned,
    * nothing ordered, nothing on the driver. novelty is the one division
    * of exact BIGINTs after aggregation.
    */
  private val corpusNovelty = Q("corpus_novelty",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ch AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, (len(w)+5)//6),
       |    i -> array_to_string(w[(i-1)*6+1 : i*6], ' '))) AS chunk FROM toks),
       |firsts AS (SELECT chunk, min(doc_id) AS first_doc FROM ch GROUP BY chunk),
       |per_doc AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
       |novel AS (SELECT first_doc AS doc_id, count(*) AS n_novel FROM firsts GROUP BY first_doc)
       |SELECT p.doc_id, p.n_chunks,
       |  coalesce(n.n_novel, CAST(0 AS BIGINT)) AS n_novel,
       |  CAST(coalesce(n.n_novel, 0) AS DOUBLE) / p.n_chunks AS novelty
       |FROM per_doc p LEFT JOIN novel n ON p.doc_id = n.doc_id
       |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    val ch = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, (size(w) + 5) div 6), i -> concat_ws(' ', slice(w, (i-1)*6+1, 6)))"))
        .as("chunk"))
      .distinct()
    val firsts = ch.groupBy("chunk").agg(min("doc_id").as("first_doc"))
    val perDoc = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val novel = firsts.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_chunks"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** Token-budget mix table per (source, lang) — the allocation grain LLM
    * training actually plans by: `domain_mix` balances DOCUMENT counts,
    * but a 50-token doc and a 5k-token doc are not the same spend, so the
    * budget table reports exact token counts and each cell's share of the
    * corpus budget as share_e6 = floor(1e6·tokens/total) via
    * [[ExactRatio.e6]]. Scale: token counts are per-row `size(split(…))` (no
    * explode — the only O(data) stage is one map + combinable aggregate
    * onto the ≤ |sources|×|langs| domain); the corpus total rides a
    * window over that bounded cell table (allowlisted).
    */
  private val corpusTokenBudget = Q("corpus_token_budget",
    s"""WITH t AS (SELECT source, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
       |g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY source, lang),
       |w AS (SELECT source, lang, n_docs, n_tokens,
       |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM g)
       |SELECT source, lang, n_docs, n_tokens,
       |  ${e6(DuckF, "n_tokens", "total")} AS share_e6
       |FROM w ORDER BY source, lang""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.documents(s, d)
      .select(col("source"), col("lang"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n_tok"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    g.withColumn("total", sum("n_tokens").over(Window.partitionBy()))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        expr(e6(SparkF, "n_tokens", "total")).as("share_e6"))
      .orderBy("source", "lang")
  }

  /** Per-source vocabulary-health profile: vocabulary size, hapax
    * legomena (tokens occurring exactly once — the classic "is this
    * source natural text or generated boilerplate" axis: natural corpora
    * sit near 40-60% hapax share of vocabulary; templated text collapses
    * far below), token total, and the two ratios every corpus report
    * prints — hapax share of vocab and type-token ratio — as exact
    * ×10⁶ integers via [[ExactRatio.e6]]. Scale: ONE O(data) explode
    * collapses immediately onto the (source, token) DOMAIN through a
    * combinable count; the per-source profile is a second combinable
    * aggregate on that domain. No windows, no joins.
    */
  private val textHapax = Q("text_hapax",
    s"""WITH tf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents) u
       |  WHERE tok <> '' GROUP BY source, tok)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |  CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  ${e6(DuckF, "sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)", "count(*)")} AS hapax_e6,
       |  ${e6(DuckF, "count(*)", "sum(tf)")} AS ttr_e6
       |FROM tf GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("hapax"),
        sum("tf").as("n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("n_tokens"),
        expr(e6(SparkF, "hapax", "vocab")).as("hapax_e6"),
        expr(e6(SparkF, "vocab", "n_tokens")).as("ttr_e6"))
      .orderBy("source")
  }

  /** Heaps'-law vocabulary-growth exponent: OLS slope of ln(vocab) on
    * ln(docs seen) over 16 corpus-prefix checkpoints — the scaling-curve
    * number ("how fast does new data stop teaching new phrases") a
    * pipeline tracks per ingest source alongside [[textHapax]]'s static
    * profile and `text_zipf`'s frequency slope. The vocabulary unit is
    * the TRIGRAM type (unigram vocabulary saturates almost immediately
    * on any bounded word list — the fixture's plateaus at checkpoint 1
    * and the slope degenerates to an exact 0; trigram types keep growing
    * through the whole corpus, which is also the unit n-gram-novelty
    * curves use in practice). Checkpoints are VALUE
    * splits of the doc_id range (q_k = lo + ⌊Δ·k/16⌋ — min/max is one
    * combinable aggregate), NEVER rank splits: a rank checkpoint needs a
    * global cumulative count over the unbounded doc domain, exactly the
    * partition-less-window shape the plan rules ban. Each doc/token then
    * maps to its bucket by the exact integer inverse
    * b = max(1, ⌈16·(id−lo)/Δ⌉) = max(1, (16·(id−lo)+Δ−1) div Δ) —
    * provably the smallest k with id ≤ q_k, identical on both engines —
    * so x_k (docs seen) and y_k (vocab = trigram types whose FIRST doc ≤ q_k)
    * are cumulative sums over a 16-row bounded domain (allowlisted
    * window). ln snaps to ×10⁶ BIGINTs (MarginSpec-gated) and the slope
    * is ExactRatio's Slope tail (exactness contract: [[ExactRatio]]). Scale:
    * one O(data) trigram explode collapsing onto the trigram-type domain
    * (min(doc_id) per type is combinable), one doc-id scan; everything
    * after runs on ≤16 rows.
    */
  private val corpusHeaps = Q("corpus_heaps",
    s"""WITH b AS (SELECT min(doc_id) AS lo, greatest(max(doc_id) - min(doc_id), 1) AS dl
       |  FROM documents),
       |db AS (SELECT least(CAST(16 AS BIGINT),
       |      greatest(CAST(1 AS BIGINT), (16 * (doc_id - lo) + dl - 1) // dl)) AS bk
       |  FROM documents, b),
       |dc AS (SELECT bk, CAST(count(*) AS BIGINT) AS nd FROM db GROUP BY bk),
       |g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
       |        FROM documents) t WHERE len(w) >= 3),
       |fd AS (SELECT min(doc_id) AS fdoc
       |  FROM (SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS tri FROM g) x
       |  GROUP BY tri),
       |tb AS (SELECT least(CAST(16 AS BIGINT),
       |      greatest(CAST(1 AS BIGINT), (16 * (fdoc - lo) + dl - 1) // dl)) AS bk
       |  FROM fd, b),
       |tc AS (SELECT bk, CAST(count(*) AS BIGINT) AS nv FROM tb GROUP BY bk),
       |sp AS (SELECT unnest(generate_series(CAST(1 AS BIGINT), CAST(16 AS BIGINT))) AS k),
       |cum AS (SELECT k,
       |    CAST(sum(coalesce(dc.nd, 0)) OVER (ORDER BY k) AS BIGINT) AS xk,
       |    CAST(sum(coalesce(tc.nv, 0)) OVER (ORDER BY k) AS BIGINT) AS yk
       |  FROM sp LEFT JOIN dc ON dc.bk = sp.k LEFT JOIN tc ON tc.bk = sp.k),
       |sn AS (SELECT
       |    CAST(floor(ln(CAST(xk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(yk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y
       |  FROM cum WHERE xk >= 1 AND yk >= 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n, ${duckCols(Slope.sums(DuckF, "x", "y"))} FROM sn)
       |SELECT n, ${duckCols(Slope.presentation(DuckF, "beta_e6"))}
       |FROM ${ExactRatio.applyDuck(s"SELECT n, ${duckCols(Slope(DuckF).columns)}" +
          s" FROM m WHERE ${Slope(DuckF).nonDegenerate}",
          Slope.stages(DuckF))} q""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // the 1-row bounds frame feeds BOTH bucketings through one broadcast
    // exchange that Spark reuses, so the doc-id min/max scan runs once,
    // not once per consumer (r17 scan audit: 4 scans -> 3; the remaining
    // three are the honest passes of this algorithm — bounds, per-bucket
    // doc counts, trigram first-seen)
    val b = docs.agg(min("doc_id").as("lo"),
      expr("greatest(max(doc_id) - min(doc_id), 1)").as("dl"))
    def bucket(idCol: String) =
      s"least(cast(16 as bigint), greatest(cast(1 as bigint)," +
        s" (16 * ($idCol - lo) + dl - 1) div dl))"
    val dc = docs.select("doc_id").crossJoin(broadcast(b))
      .select(expr(bucket("doc_id")).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("nd"))
    val fd = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))"))
        .as("tri"))
      .groupBy("tri").agg(min("doc_id").as("fdoc"))
    val tc = fd.crossJoin(broadcast(b))
      .select(expr(bucket("fdoc")).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("nv"))
    val sp = s.range(1, 17).select(col("id").as("k"))
    // 16-row bounded domain: the partition-less cumulative window is the
    // allowlisted checkpoint-spine case, never the doc/token domain
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
    val cum = sp
      .join(dc.withColumnRenamed("bk", "bkd"), col("k") === col("bkd"), "left")
      .join(tc.withColumnRenamed("bk", "bkt"), col("k") === col("bkt"), "left")
      .select(col("k"), coalesce(col("nd"), lit(0L)).as("nd"),
        coalesce(col("nv"), lit(0L)).as("nv"))
      .withColumn("xk", sum("nd").over(w).cast("long"))
      .withColumn("yk", sum("nv").over(w).cast("long"))
    val sn = cum.filter(col("xk") >= 1 && col("yk") >= 1)
      .select(
        expr("cast(floor(ln(cast(xk as double)) * 1000000 + 0.5) as bigint)").as("x"),
        expr("cast(floor(ln(cast(yk as double)) * 1000000 + 0.5) as bigint)").as("y"))
    val m = sn.agg(count(lit(1)).as("n"), sparkCols(Slope.sums(SparkF, "x", "y")): _*)
    val base = m.filter(expr(Slope(SparkF).nonDegenerate))
      .select(col("n") +: sparkCols(Slope(SparkF).columns): _*)
    ExactRatio.applySparkDomain(base, Slope.stages(SparkF))
      .select(col("n") +: sparkCols(Slope.presentation(SparkF, "beta_e6")): _*)
  }

  /** Top-100 trigram coverage: what fraction of all trigram OCCURRENCES
    * the 100 most frequent trigram TYPES account for — the head-heaviness
    * number completing the corpus-health quartet (`text_zipf` fits the
    * head's slope, [[corpusHeaps]] the tail's growth, [[textHapax]] the
    * tail's mass; this one says how much of the corpus is pure
    * boilerplate head — near 1.0 means template text, natural corpora sit
    * far lower). Deterministic top-100 cut (tf DESC, trigram ASC — both
    * engines cut the identical set), all counts exact BIGINTs, coverage
    * as cov_e6 = floor(1e6·top_occ/total_occ) through HUGEINT/DECIMAL
    * cross-multiplied division (int64-only surface). Scale: the trigram
    * tf aggregate is the only O(data) stage; top-100 plans as a bounded
    * TakeOrdered heap and the totals ride ONE more combinable aggregate
    * over the type domain.
    */
  private val textNgramCoverage = Q("text_ngram_coverage",
    s"""WITH g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
       |        FROM documents) t WHERE len(w) >= 3),
       |tf AS (SELECT tri, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT array_to_string(w[i : i + 2], ' ') AS tri FROM g) x
       |  GROUP BY tri),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(tf) AS BIGINT) AS total_occ FROM tf),
       |top AS (SELECT CAST(count(*) AS BIGINT) AS n_top,
       |    CAST(sum(tf) AS BIGINT) AS top_occ
       |  FROM (SELECT tf FROM tf ORDER BY tf DESC, tri LIMIT 100) c)
       |SELECT n_types, total_occ, n_top, top_occ,
       |  ${e6(DuckF, "top_occ", "total_occ")} AS cov_e6
       |FROM tot, top""".stripMargin) { (s, d) =>
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))"))
        .as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("tf"))
    // both consumers read tf through its aggregate's one exchange, which
    // Spark reuses: the trigram explode runs once without a cache
    val tot = tf.agg(count(lit(1)).as("n_types"), sum("tf").as("total_occ"))
    val top = tf.orderBy(col("tf").desc, col("tri")).limit(100)
      .agg(count(lit(1)).as("n_top"), sum("tf").as("top_occ"))
    tot.crossJoin(top)
      .select(col("n_types"), col("total_occ"), col("n_top"), col("top_occ"),
        expr(e6(SparkF, "top_occ", "total_occ")).as("cov_e6"))
  }

  val all: Seq[Q] = Seq(corpusTokenBudget, textHapax, corpusHeaps,
    textNgramCoverage,
    chunkOverlap, datasetSplit, dedupStrip, sourceOverlap,
    layoutZvalue, corpusNovelty)
}
