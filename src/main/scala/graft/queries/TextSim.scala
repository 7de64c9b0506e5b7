package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** SURVEY.md §2.10 — LLM-data-pipeline operators: tokenization, corpus
  * stats, vector similarity search (brute-force top-k with the left side
  * restricted BEFORE the self-join and broadcast), kNN majority-label, and
  * MinHash-LSH fuzzy dedup.
  *
  * Scale: the brute-force cosine path broadcasts the bounded probe set (50
  * vectors) against the full corpus — at 100 TB the same plan shape holds as
  * long as the probe side stays bounded; the unbounded-corpus variant is the
  * LSH-bucketed `ann_lsh_bucket` in LlmOps (wave 5).
  */
object TextSim {

  /** DuckDB twin of the Spark sims' `dot_d / sqrt(a_n2 * b_n2)` form
    * ([[dotExpr]] over [[withVecNorm]]'s pre-cast vectors), with the EXACT
    * evaluation shape of the Spark side: sequential left-to-right product
    * sum, one sqrt over the norm product. Verified bit-identical to the
    * Spark sims on all 124 750 sf0.01 pairs. DuckDB's
    * `list_cosine_similarity` is NOT that shape: it differed by 1 ulp on
    * 40 032 of them (two sqrts round differently), enough to flip a
    * `>= threshold` edge, so oracles use this instead. `$a`/`$b` are
    * embeddings-table aliases.
    */
  def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($x.embedding)), i -> CAST($x.embedding[i] AS DOUBLE) * CAST($y.embedding[i] AS DOUBLE)))"
    s"${dot(a, b)} / sqrt(${dot(a, a)} * ${dot(b, b)})"
  }

  /** The one owner of the dedup edge-set parameters: both engines'
    * sides of `dedup_embedding`/`embedding_cluster` derive from these
    * (SQL literal and Double kept adjacent so they cannot drift). */
  val DedupCosineBound: Int = 4096
  val DedupCosineThrSql: String = "0.4"
  val DedupCosineThr: Double = 0.4

  /** The bounded exact cosine pair join shared by `dedup_embedding` and
    * `embedding_cluster`: corpus fenced in-query (`vec_id < bound`, the
    * documented exact form — the unbounded path is banded LSH), oriented
    * `a_id < b_id`, edges kept at `sim >= thr`. One place owns the
    * threshold and bound so the two queries can never drift apart.
    */
  def cosineEdges(s: SparkSession, d: String, bound: Int, thr: Double): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables.embeddings(s, d).filter(col("vec_id") < bound)
    val a = withVecNorm(e.select(col("vec_id").as("a_id"), col("embedding")), "a")
    val b = withVecNorm(e.select(col("vec_id").as("b_id"), col("embedding")), "b")
    broadcast(a).join(b, expr("a_id < b_id"))
      .withColumn("sim", expr(s"${dotExpr("a_d", "b_d")} / sqrt(a_n2 * b_n2)"))
      .filter(col("sim") >= thr)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** DuckDB CTE twin of [[cosineEdges]]: `ep(a_id, b_id, sim)`. */
  def cosineEdgesCte(bound: Int, thr: String): String =
    s"""ep AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosineSql("a", "b")} AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE a.vec_id < $bound AND b.vec_id < $bound
       |    AND ${cosineSql("a", "b")} >= $thr)""".stripMargin

  /** Double dot product of two pre-cast double-array columns, via the
    * native codegen'd `dot_d` expression (same left-to-right accumulation
    * as the `aggregate(zip_with(...))` form, no per-pair allocation).
    * Callers must `DotProduct.register(spark)` first (idempotent).
    */
  def dotExpr(a: String, b: String): String = s"dot_d($a, $b)"

  /** Pre-cast the float embedding to double ONCE per vector and attach its
    * squared norm — an O(n·d) prepass that turns every pairwise cosine from
    * three dot products into one (bit-identical results: the per-pair
    * `dot / sqrt(na * nb)` sees the exact same double operands).
    */
  def withVecNorm(df: DataFrame, prefix: String): DataFrame =
    df.withColumn(s"${prefix}_d", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn(s"${prefix}_n2", expr(dotExpr(s"${prefix}_d", s"${prefix}_d")))
      .drop("embedding")

  /** Cosine sims of the bounded probe set (vec_id < `probeLimit`) against
    * the whole corpus: (a_id, a_lbl, b_id, lbl, sim). Probe side is
    * broadcast; the ONE owner of the broadcast-probe cosine discipline —
    * sim_cosine_topk, knn_label, retrieval_eval and retrieval_rrf's dense
    * ranking all build on this frame, so the bit-identical-cosine
    * expression shape can never drift between them.
    */
  def simPairs(s: SparkSession, d: String, probeLimit: Int): DataFrame = {
    graft.functions.DotProduct.register(s)
    val e = Tables.embeddings(s, d)
    val a = withVecNorm(e.filter(col("vec_id") < probeLimit)
      .select(col("vec_id").as("a_id"), col("label").as("a_lbl"),
        col("embedding")), "a")
    val b = withVecNorm(e.select(col("vec_id").as("b_id"), col("embedding"),
      col("label").as("lbl")), "b")
    broadcast(a).join(b, expr("a_id <> b_id"))
      .select(col("a_id"), col("a_lbl"), col("b_id"), col("lbl"),
        expr(s"${dotExpr("a_d", "b_d")} / sqrt(a_n2 * b_n2)").as("sim"))
  }

  /** Number of minhash rows (5 bands × 2) — the ONE copy behind the Spark
    * pipeline and the generated oracle CTEs. `final` + literal so it is a
    * compile-time constant: `all` above initializes eagerly and bakes
    * [[minhashOracleSql]] into the dedup_fuzzy Q BEFORE this line's
    * runtime initializer would run. */
  final val MinhashK = 10

  /** Cross-engine gram hash (r12, replacing xxhash64): per-word polynomial
    * char fold `(a·31 + ascii) mod 1e9+7` — the verified text_fingerprint
    * arithmetic — then a compositional 3-word combine in the same modulus.
    * Words hash ONCE per doc, via the native codegen'd `poly_hash_arr`
    * expression since r12 (graft.functions.PolyHashArr — callers register
    * it; the HOF twin below is the spec-gated reference). All values
    * < 2³⁰, all intermediates < 2⁵¹ — overflow-free on both engines.
    */
  private[queries] val wordHashExpr = "poly_hash_arr(w)"

  /** The declarative HOF twin of [[wordHashExpr]] — kept as the reference
    * implementation PolyHashSpec gates the native expression against
    * (two nested non-codegen lambdas; measured the dominant cost of the
    * gram kernel before the native form replaced it in r12). */
  private[graft] val wordHashHofExpr =
    "transform(w, t -> aggregate(split(t, ''), cast(0 as bigint), (a, c) -> (a * 31 + ascii(c)) % 1000000007))"
  private[queries] val gramFromWordsExpr =
    "transform(sequence(1, size(hw) - 2), i -> ((element_at(hw, i) * 1000003 + element_at(hw, i + 1)) % 1000000007 * 1000003 + element_at(hw, i + 2)) % 1000000007)"

  /** DuckDB twin of [[wordHashExpr]] over a `w` list column. */
  private[queries] val wordHashSql =
    """list_transform(w, t ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |        (a, b) -> (a * 31 + b) % 1000000007))""".stripMargin
  /** DuckDB twin of [[gramFromWordsExpr]] over a `hw` list column. */
  private[queries] val gramFromWordsSql =
    "list_transform(generate_series(1, len(hw) - 2), i -> ((hw[i] * 1000003 + hw[i + 1]) % 1000000007 * 1000003 + hw[i + 2]) % 1000000007)"

  /** Salted 32-bit integer mix of a gram hash `gh`: shift by the salt, one
    * Knuth multiply, one lowbias32 avalanche round (xor-fold + 31-bit-safe
    * multiply — the Multimodal.lshPlaneSign mix; a 32-bit operand times a
    * 31-bit constant cannot overflow INT64 on the DuckDB side). Pure
    * integer arithmetic, identical text on both engines. Salts 1-10 are
    * the minhash rows; 101/102 are dedup_simhash's two signature halves.
    */
  private[queries] def intMix(salt: Int, gh: String): String = {
    val a = s"(($gh + $salt * 1000003) % 4294967296)"
    val h = s"(($a * 2146121005) % 4294967296)"
    s"((($h ^ shiftright($h, 16)) * 2146121005) % 4294967296)"
  }
  /** DuckDB twin of [[intMix]] (xor is a function, not an operator). */
  private[queries] def intMixSql(salt: Int, gh: String): String = {
    val a = s"(($gh + $salt * 1000003) % 4294967296)"
    val h = s"(($a * 2146121005) % 4294967296)"
    s"(((xor($h, $h >> 16)) * 2146121005) % 4294967296)"
  }
  private def minhashMix(i: Int, gh: String): String = intMix(i + 1, gh)
  private def minhashMixSql(i: Int, gh: String): String = intMixSql(i + 1, gh)

  /** DuckDB CTE twin of [[minhashNearDupPairs]] over `documents`, ending in
    * the same (doc_a, doc_b, dist_e3) projection — generated from the same
    * MinhashK/band constants and [[minhashMixSql]] so the twins cannot
    * drift. Oracle-checkable since r12: every hash in the pipeline is
    * plain integer arithmetic (the r7-r11 form minhashed xxhash64 gram
    * keys — engine-specific, rows-only).
    */
  /** Shared DuckDB CTE prefix `toks/hws/grams/sig/bands` — the twin of
    * [[gramTable]] + [[sigTable]] + [[bandSignatures]], generated ONCE
    * from the MinhashK/band constants so the three minhash-family oracles
    * (`dedup_fuzzy`, `dedup_incremental`, `dedup_calibration`) cannot
    * drift from each other or from the Spark kernels. */
  private def minhashCtes: String = {
    val minCols = (0 until MinhashK)
      .map(i => s"CAST(min(${minhashMixSql(i, "gh")}) AS BIGINT) AS m$i").mkString(",\n    ")
    val bandRows = (0 until 5)
      .map(b => s"SELECT doc_id, n, $b AS bi, m${2 * b} AS bv1, m${2 * b + 1} AS bv2 FROM sig")
      .mkString("\n  UNION ALL ")
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |    FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
       |hws AS (SELECT doc_id, $wordHashSql AS hw
       |  FROM toks),
       |grams AS (SELECT DISTINCT doc_id, gh FROM (
       |  SELECT doc_id, unnest($gramFromWordsSql) AS gh
       |  FROM hws) gg),
       |sig AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    $minCols
       |  FROM grams GROUP BY doc_id),
       |bands AS (
       |  $bandRows)""".stripMargin
  }

  def minhashOracleSql: String = {
    s"""WITH $minhashCtes,
       |guarded AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bv1 = b.bv1 AND a.bv2 = b.bv2 AND a.doc_id <= b.doc_id
       |  WHERE CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n) >= 0.7),
       |common AS (SELECT g.da, g.db, CAST(count(*) AS BIGINT) AS c
       |  FROM guarded g JOIN grams ga ON ga.doc_id = g.da
       |    JOIN grams gb ON gb.doc_id = g.db AND gb.gh = ga.gh
       |  GROUP BY g.da, g.db)
       |SELECT g.da AS doc_a, g.db AS doc_b,
       |  CAST((1000 * (g.na + g.nb - 2 * c.c)) // (g.na + g.nb - c.c)
       |    AS BIGINT) AS dist_e3
       |FROM guarded g JOIN common c ON c.da = g.da AND c.db = g.db
       |WHERE 7 * (g.na + g.nb - c.c) <= 10 * c.c
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("text_tokenize",
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },

    Q("text_stats",
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
      ).orderBy("lang")
    },

    // the rank ORDER BY uses cosineSql (bit-identical to the Spark sims)
    // — the builtin list_cosine_similarity is 1 ulp off on ~1/3 of pairs,
    // enough to swap two near-tied neighbors' ranks cross-engine
    Q("sim_cosine_topk",
      s"""SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk, CAST(floor(sim * 1000 + 0.5) AS BIGINT) AS sim_e3
         |FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${cosineSql("a", "b")} AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${cosineSql("a", "b")} DESC, b.vec_id) AS rnk
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 50) t
         |WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      simPairs(s, d, 50)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), expr("cast(floor(sim * 1000 + 0.5) as bigint)").as("sim_e3"))
        .orderBy("vec_id", "rnk")
    },

    // Binarized-embedding similarity (sign-bit sketch + Hamming top-k):
    // each 64-float vector compresses to a 63-bit sign sketch (bit i =
    // embedding[i] > 0; bit 63 unused — 1<<63 is the sign bit and DuckDB's
    // list_sum would widen it differently), and neighbor search runs on
    // 8-byte integers via codegen'd XOR + POPCOUNT — the ~32× compression
    // that makes a 100 TB corpus's candidate scan memory- and SIMD-cheap
    // before an exact re-rank. Deterministic by construction (float > 0
    // compare + integer ops, no RNG planes like ann_lsh_bucket) so it
    // oracles hash-exact. Probe set bounded (vec_id < 50, broadcast);
    // the sketch column itself is map-only and corpus-wide.
    Q("sim_signbit_hamming",
      s"""WITH sk AS (SELECT vec_id,
         |    CAST(list_sum(list_transform(generate_series(1, 63),
         |      i -> CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT) AS sk
         |  FROM embeddings),
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS ham
         |  FROM sk a JOIN sk b ON b.vec_id <> a.vec_id WHERE a.vec_id < 50),
         |r AS (SELECT a_id, b_id, ham,
         |    row_number() OVER (PARTITION BY a_id ORDER BY ham, b_id) AS rnk FROM pairs)
         |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk, ham AS hamming
         |FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin) { (s, d) =>
      val skExpr = "aggregate(sequence(0, 62), cast(0 as bigint), (acc, i) -> " +
        "acc + (case when element_at(embedding, i + 1) > 0 " +
        "then shiftleft(cast(1 as bigint), i) else cast(0 as bigint) end))"
      val sk = Tables.embeddings(s, d).select(col("vec_id"), expr(skExpr).as("sk"))
      val a = sk.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("sk").as("a_sk"))
      val b = sk.select(col("vec_id").as("b_id"), col("sk").as("b_sk"))
      val w = Window.partitionBy("a_id").orderBy(col("ham").asc, col("b_id").asc)
      broadcast(a).join(b, expr("a_id <> b_id"))
        .withColumn("ham", expr("cast(bit_count(a_sk ^ b_sk) as int)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), col("ham").as("hamming"))
        .orderBy("vec_id", "rnk")
    },

    // majority label among top-5 neighbors — the RF-candidate-scoring analog
    Q("knn_label",
      s"""WITH sims AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.label AS lbl,
         |    ${cosineSql("a", "b")} AS sim
         |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 50),
         |top5 AS (
         |  SELECT * FROM sims
         |  QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) <= 5),
         |votes AS (
         |  SELECT a_id, lbl, count(*) AS votes FROM top5 GROUP BY a_id, lbl)
         |SELECT a_id AS vec_id, lbl AS pred_label, votes FROM votes
         |QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY votes DESC, lbl) = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val wTop = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      val wVote = Window.partitionBy("a_id").orderBy(col("votes").desc, col("lbl"))
      simPairs(s, d, 50)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .groupBy("a_id", "lbl").agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("a_id").as("vec_id"), col("lbl").as("pred_label"), col("votes"))
        .orderBy("vec_id")
    },

    // MinHash near-duplicate self-join over 3-word shingles: 10
    // deterministic minhashes -> 5 bands of 2 rows -> band equi-join for
    // candidates -> cheap size-ratio guard -> EXACT Jaccard re-rank,
    // dist <= 0.3.
    // Replaces MLlib approxSimilarityJoin (r=1 bands: at J=0.2 a pair
    // collides with p = 1-(1-J)^3 ≈ 0.49, so the explode-join blew up to
    // 30-114 s run-variable); r=2 bands collide at J^2 per band, and the
    // min(n)/max(n) >= 0.7 guard (Jaccard <= min/max always) kills the
    // surviving random collisions before the shingle re-rank join.
    // Identity pairs (da = db, dist 0) collide in every band, so rows > 0
    // at every sf. Hash-exact oracled since r12 (the sketch is integer
    // arithmetic both engines compute — minhashOracleSql); planted-pair
    // recovery through THIS code path additionally asserted in MlSpec.
    Q("dedup_fuzzy", minhashOracleSql) { (s, d) =>
      minhashNearDupPairs(s, Tables.documents(s, d).select("doc_id", "text"))
    },

    // Incremental / cross-run dedup — the warehouse pattern the batch
    // near-dup family feeds: a PERSISTED minhash signature index of the
    // already-ingested corpus (doc_id % 5 <> 0 stands in for "previous
    // runs"; in production this table is precomputed once per run and
    // stored banded/bucketed on (bi, bv1, bv2)), and each NEW batch
    // (doc_id % 5 = 0) computes its own signatures map-side and probes
    // the index with a band equi-join — the anti-join analog of the
    // streaming index append. Candidates that survive the size-ratio
    // guard get the exact shingle-Jaccard re-rank (dist <= 0.3, the
    // dedup_fuzzy threshold); a new doc is a dup iff at least one index
    // doc confirms. Output: every new doc with its shingle count, the
    // smallest confirming index doc (NULL if novel), the confirming-doc
    // count, and the dup flag. Scale shape: one scan of each side's
    // grams (here ONE shared cached gram table since both splits come
    // from the same fixture), band-keyed equi-join candidates — never
    // all-pairs — and the re-rank touches candidate grams only. All
    // integer sketches (the r12 cross-engine polyhash), so hash-exact
    // oracled.
    // Verbatim-span extraction — the exact-substring overlap scan
    // (contamination / copyright / boilerplate detection at passage
    // grain, the complement of whole-doc near-dup): per doc, every
    // maximal word span whose EVERY 8-word window appears verbatim in at
    // least one other document (each window possibly in a different
    // partner — the merged span is the standard flagging grain, not a
    // single-partner copy claim), with the word-index range and the
    // widest per-window sharing count. Pipeline: positioned 8-gram
    // rolling hashes (the cross-engine word-polyhash composition,
    // positions riding along) -> per-gram distinct-doc frequency ->
    // semi-join positions whose gram is shared -> gaps-and-islands merge
    // into maximal spans. The gram key is a DOUBLE hash — two
    // independent mod-1e9+7 polynomial folds of the word hashes
    // (bases 1000003 / 999983): unlike the dedup family, a collision
    // here would flow STRAIGHT to output (there is no exact re-rank
    // stage), and the dominant collision mode — gram-COMPOSITION
    // collisions, birthday-bound over the corpus's ~n_grams² pairs —
    // needs the difference polynomial to vanish at both bases
    // (~2^-55 per pair, negligible at any n). Per-WORD hash collisions
    // are not squared away (both folds consume the same word hashes),
    // but a word collision only surfaces as a false span when the
    // surrounding 7 words already match verbatim — a 7/8-verbatim
    // window, which is precisely the content this scan exists to flag. Scale shape: UNLIKE pairwise
    // dedup this never forms doc pairs — group-by-gram + equi-join back
    // + per-doc window, all linear in corpus size and shuffle-parallel
    // on the 16-byte gram key; a universally-common gram costs df
    // counting, not a pair explosion. All integer arithmetic ->
    // hash-exact oracled.
    Q("text_verbatim_spans", verbatimSpansOracleSql) { (s, d) =>
      val pos = spanPosTable(s, d)
      val shared = pos.groupBy("gh", "gh2")
        .agg(countDistinct("doc_id").as("df")).filter(col("df") >= 2)
      val wIsl = Window.partitionBy("doc_id").orderBy("i")
      pos.join(shared, Seq("gh", "gh2"))
        .withColumn("grp", col("i") - row_number().over(wIsl))
        .groupBy("doc_id", "grp")
        .agg(min("i").as("span_start"),
          (max("i") + (SpanGramLen - 1)).as("span_end"),
          (max("i") - min("i") + SpanGramLen).as("span_words"),
          max("df").as("max_df"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_words"), col("max_df"))
        .orderBy("doc_id", "span_start")
    },

    // Span ATTRIBUTION — the report grain downstream of the span scan:
    // per ordered doc pair (da < db), how many 8-gram windows they share
    // verbatim and the covering word ranges on each side. This is the
    // one step of the family that DOES form pairs, so it is explicitly
    // bounded: only grams with 2 <= df <= SpanAttribDfCap participate
    // (a boilerplate gram in thousands of docs belongs in the span
    // scan's df column, not in a quadratic pair list — the jaccardPairs
    // hot-shingle discipline). Within the cap the join is an equi-join
    // on the 16-byte double-hash key, shuffle-parallel, with per-pair
    // output rows bounded by df cap² per gram. n_windows counts window
    // PAIRS (a gram at two positions in da matching one in db = 2).
    Q("span_attribution", spanAttributionOracleSql) { (s, d) =>
      val pos = spanPosTable(s, d)
      val shared = pos.groupBy("gh", "gh2")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df").between(2, SpanAttribDfCap))
      val hits = pos.join(shared.select("gh", "gh2"), Seq("gh", "gh2"))
      val a = hits.toDF("gh", "gh2", "da", "ia")
      val b = hits.toDF("ghb", "gh2b", "db", "ib")
      a.join(b, expr("gh = ghb AND gh2 = gh2b AND da < db"))
        .groupBy("da", "db")
        .agg(count(lit(1)).as("n_windows"),
          min("ia").as("a_start"), (max("ia") + (SpanGramLen - 1)).as("a_end"),
          min("ib").as("b_start"), (max("ib") + (SpanGramLen - 1)).as("b_end"))
        .orderBy("da", "db")
    },

    // Estimator CALIBRATION for the minhash family — per banded candidate
    // pair (strict da < db; identity pairs would trivially agree on all
    // rows), the full-sketch agreement count (est_match of MinhashK=10)
    // against the EXACT shingle Jaccard, plus their signed error. This is
    // the measurement that justifies the family's band parameters: the
    // production answer to "can I trust 5×2 bands at threshold 0.7?" is
    // this table's err3 distribution, recomputed on the operator's own
    // corpus. Scale shape: candidates come from the SAME guarded band
    // equi-join as dedup_fuzzy (never all-pairs), sketch comparison is a
    // broadcast-size join back to the wide signature table, and the exact
    // intersection touches candidate grams only. All-integer sketches →
    // hash-exact oracled; est/exact/err ship as e3 integers (exact
    // floor division on both engines — no hashed double).
    // The wide sig table is consumed THREE times (band explode + both
    // sides of the sketch comparison), so it is cached — computed once
    // off the cached gram table instead of re-aggregated per consumer;
    // this is the same ~100 B/doc signature index `dedup_incremental`
    // persists, materialized rather than recomputed.
    Q("dedup_calibration", calibrationOracleSql) { (s, d) =>
      val grams = gramTable(s, Tables.documents(s, d).select("doc_id", "text"))
      val sig = graft.Caching.ensureCached(sigTable(grams))
      val bands = bandsFromSig(sig)
      val cand = bands.toDF("da", "na", "bi", "bv1", "bv2")
        .join(bands.toDF("db", "nb", "bi2", "bv1b", "bv2b"),
          expr("bi = bi2 AND bv1 = bv1b AND bv2 = bv2b AND da < db" +
            " AND cast(least(na, nb) as double) / greatest(na, nb) >= 0.7"))
        .select("da", "db", "na", "nb").distinct()
      val agree = (0 until MinhashK)
        .map(i => s"(case when am$i = bm$i then 1 else 0 end)").mkString(" + ")
      val sa = sig.toDF("sa_id" +: "sa_n" +: (0 until MinhashK).map(i => s"am$i"): _*)
      val sb = sig.toDF("sb_id" +: "sb_n" +: (0 until MinhashK).map(i => s"bm$i"): _*)
      val est = cand
        .join(sa, expr("da = sa_id")).join(sb, expr("db = sb_id"))
        .withColumn("est_match", expr(s"cast($agree as bigint)"))
        .select("da", "db", "na", "nb", "est_match")
      val common = cand.select("da", "db")
        .join(grams.toDF("da3", "gh"), expr("da = da3"))
        .join(grams.toDF("db3", "gh2"), expr("db = db3 AND gh = gh2"))
        .groupBy("da", "db").agg(count(lit(1)).as("cc"))
      est.join(common, Seq("da", "db"), "left_outer")
        .withColumn("n_common", expr("cast(coalesce(cc, 0) as bigint)"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("n_common"), col("est_match"),
          expr(s"cast((1000 * est_match) div $MinhashK as bigint)").as("est_e3"),
          expr("cast((1000 * n_common) div (na + nb - n_common) as bigint)").as("j_e3"),
          expr(s"cast((1000 * est_match) div $MinhashK as bigint)" +
            " - cast((1000 * n_common) div (na + nb - n_common) as bigint)").as("err_e3"))
        .orderBy("doc_a", "doc_b")
    },

    Q("dedup_incremental", incrementalOracleSql) { (s, d) =>
      val grams = gramTable(s, Tables.documents(s, d).select("doc_id", "text"))
      val bands = bandSignatures(grams)
      val idx = bands.filter(col("doc_id") % 5 =!= 0)
        .toDF("db", "nb", "bi2", "bv1b", "bv2b")
      val newb = bands.filter(col("doc_id") % 5 === 0)
        .toDF("da", "na", "bi", "bv1", "bv2")
      val cand = newb.join(idx, expr("bi = bi2 AND bv1 = bv1b AND bv2 = bv2b" +
          " AND cast(least(na, nb) as double) / greatest(na, nb) >= 0.7"))
        .select("da", "db", "na", "nb").distinct()
      val common = cand.select("da", "db")
        .join(grams.toDF("da3", "gh"), expr("da = da3"))
        .join(grams.toDF("db3", "gh2"), expr("db = db3 AND gh = gh2"))
        .groupBy("da", "db").agg(count(lit(1)).as("c"))
      val dups = cand.join(common, Seq("da", "db"))
        .filter(expr("7 * (na + nb - c) <= 10 * c"))
        .groupBy("da").agg(min("db").as("dup_of"), count(lit(1)).as("n_dups"))
      newb.select(col("da"), col("na")).distinct()
        .join(dups, Seq("da"), "left_outer")
        .select(col("da").as("doc_id"), col("na").as("n_shingles"),
          col("dup_of"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          when(col("dup_of").isNull, 0).otherwise(1).cast("int").as("is_dup"))
        .orderBy("doc_id")
    },
  )

  /** Span gram length for `text_verbatim_spans` — 8 words is the usual
    * contamination-scan grain (long enough that chance repeats are rare,
    * short enough to catch quoted passages). `final val` literal: the
    * oracle string bakes it at `all`'s initialization (the MinhashK
    * discipline). */
  final val SpanGramLen = 8

  /** Attribution df cap: grams shared by more than this many docs are
    * excluded from the PAIR list (they stay in the span scan's df) —
    * bounds the one quadratic step of the family. */
  final val SpanAttribDfCap = 20

  /** Positioned double-hashed span gram table (doc_id, i, gh, gh2),
    * cached lazily — the shared kernel of `text_verbatim_spans` and
    * `span_attribution` (identical plan text, so a same-session second
    * consumer warm-hits the SQL cache). See the span Q scaladoc for the
    * double-hash collision argument.
    */
  private def spanPosTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    graft.functions.PolyHashArr.register(s)
    def fold(mult: Long) =
      s"""aggregate(sequence(0, ${SpanGramLen - 1}), cast(0 as bigint),
         |     (acc, j) -> (acc * $mult + element_at(hw, i + j)) % 1000000007)""".stripMargin
    graft.Caching.ensureCached(Tables.documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= SpanGramLen)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("hw", expr(wordHashExpr))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(hw) - ${SpanGramLen - 1}),
           | i -> struct(cast(i as bigint) as i,
           |   ${fold(1000003L)} as gh,
           |   ${fold(999983L)} as gh2))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"),
        col("p.gh").as("gh"), col("p.gh2").as("gh2")))
  }

  /** Shared CTE prefix `toks/hws/pos` of both span oracles — the DuckDB
    * twin of [[spanPosTable]]. */
  private def spanPosCtes: String = {
    val L = SpanGramLen
    def fold(base: Long) =
      s"list_reduce(hw[i : i + ${L - 1}], (a, b) -> (a * $base + b) % 1000000007)"
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |    FROM documents WHERE len(string_split(lower(text), ' ')) >= $L),
       |hws AS (SELECT doc_id, $wordHashSql AS hw
       |  FROM toks),
       |pos AS (SELECT doc_id, i,
       |    ${fold(1000003L)} AS gh,
       |    ${fold(999983L)} AS gh2
       |  FROM (SELECT doc_id, hw, unnest(generate_series(1, len(hw) - ${L - 1})) AS i FROM hws) t)""".stripMargin
  }

  /** DuckDB twin of `span_attribution`: the [[spanPosCtes]] prefix, the
    * df-capped shared-gram set, and the bounded pair aggregation. */
  def spanAttributionOracleSql: String = {
    val L = SpanGramLen
    s"""WITH $spanPosCtes,
       |shared AS (SELECT gh, gh2 FROM pos GROUP BY gh, gh2
       |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $SpanAttribDfCap),
       |hits AS (SELECT p.doc_id, p.i, p.gh, p.gh2
       |  FROM pos p JOIN shared s ON p.gh = s.gh AND p.gh2 = s.gh2)
       |SELECT a.doc_id AS da, b.doc_id AS db,
       |  CAST(count(*) AS BIGINT) AS n_windows,
       |  CAST(min(a.i) AS BIGINT) AS a_start,
       |  CAST(max(a.i) + ${L - 1} AS BIGINT) AS a_end,
       |  CAST(min(b.i) AS BIGINT) AS b_start,
       |  CAST(max(b.i) + ${L - 1} AS BIGINT) AS b_end
       |FROM hits a JOIN hits b
       |  ON a.gh = b.gh AND a.gh2 = b.gh2 AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY da, db""".stripMargin
  }

  /** DuckDB twin of `text_verbatim_spans`: positioned rolling 8-gram
    * DOUBLE hashes via list_reduce over the hw slice (init-0 fold and
    * first-element-init reduce agree because 0 * base + h = h), the
    * same shared-gram semi-join on BOTH hashes, and the same
    * gaps-and-islands merge.
    */
  def verbatimSpansOracleSql: String = {
    val L = SpanGramLen
    s"""WITH $spanPosCtes,
       |shared AS (SELECT gh, gh2, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM pos GROUP BY gh, gh2 HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT p.doc_id, p.i, s.df FROM pos p JOIN shared s ON p.gh = s.gh AND p.gh2 = s.gh2),
       |isl AS (SELECT doc_id, i, df,
       |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM hits)
       |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
       |  CAST(max(i) + ${L - 1} AS BIGINT) AS span_end,
       |  CAST(max(i) - min(i) + $L AS BIGINT) AS span_words,
       |  CAST(max(df) AS BIGINT) AS max_df
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** DuckDB twin of `dedup_incremental`: the [[minhashOracleSql]] CTE
    * chain up to `bands`, then the new-batch-vs-index split (doc_id % 5),
    * the guarded band probe, the exact-Jaccard confirm, and the left-join
    * verdict per new doc. Generated from the same constants/mix SQL so
    * the twins cannot drift.
    */
  /** DuckDB twin of `dedup_calibration`: the [[minhashCtes]] prefix, the
    * strict (da < db) guarded band candidates, the wide-signature
    * agreement count, and the exact-intersection left join — the same
    * e3 integer surfaces as the Spark side, generated from MinhashK so
    * the agreement sum cannot drift. */
  def calibrationOracleSql: String = {
    val agree = (0 until MinhashK)
      .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $minhashCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bv1 = b.bv1 AND a.bv2 = b.bv2 AND a.doc_id < b.doc_id
       |  WHERE CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n) >= 0.7),
       |est AS (SELECT c.da, c.db, c.na, c.nb,
       |    CAST($agree AS BIGINT) AS est_match
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.da JOIN sig sb ON sb.doc_id = c.db),
       |common AS (SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS cc
       |  FROM cand c JOIN grams ga ON ga.doc_id = c.da
       |    JOIN grams gb ON gb.doc_id = c.db AND gb.gh = ga.gh
       |  GROUP BY c.da, c.db)
       |SELECT e.da AS doc_a, e.db AS doc_b,
       |  CAST(coalesce(cm.cc, 0) AS BIGINT) AS n_common,
       |  e.est_match,
       |  CAST((1000 * e.est_match) // $MinhashK AS BIGINT) AS est_e3,
       |  CAST((1000 * coalesce(cm.cc, 0))
       |    // (e.na + e.nb - coalesce(cm.cc, 0)) AS BIGINT) AS j_e3,
       |  CAST((1000 * e.est_match) // $MinhashK AS BIGINT)
       |    - CAST((1000 * coalesce(cm.cc, 0))
       |      // (e.na + e.nb - coalesce(cm.cc, 0)) AS BIGINT) AS err_e3
       |FROM est e LEFT JOIN common cm ON cm.da = e.da AND cm.db = e.db
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  def incrementalOracleSql: String = {
    s"""WITH $minhashCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bv1 = b.bv1 AND a.bv2 = b.bv2
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |    AND CAST(least(a.n, b.n) AS DOUBLE) / greatest(a.n, b.n) >= 0.7),
       |common AS (SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS c
       |  FROM cand c JOIN grams ga ON ga.doc_id = c.da
       |    JOIN grams gb ON gb.doc_id = c.db AND gb.gh = ga.gh
       |  GROUP BY c.da, c.db),
       |dups AS (SELECT cand.da, CAST(min(cand.db) AS BIGINT) AS dup_of,
       |    CAST(count(*) AS BIGINT) AS n_dups
       |  FROM cand JOIN common ON common.da = cand.da AND common.db = cand.db
       |  WHERE 7 * (cand.na + cand.nb - common.c) <= 10 * common.c
       |  GROUP BY cand.da),
       |newdocs AS (SELECT doc_id, n FROM sig WHERE doc_id % 5 = 0)
       |SELECT nd.doc_id, nd.n AS n_shingles, d.dup_of,
       |  CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
       |  CAST(CASE WHEN d.dup_of IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
       |FROM newdocs nd LEFT JOIN dups d ON d.da = nd.doc_id
       |ORDER BY nd.doc_id""".stripMargin
  }

  /** int64-hashed DISTINCT 3-word-shingle table (doc_id, gh), cached
    * lazily. Shingles are hashed to int64 INSIDE the transform
    * lambda (see LlmOps.jaccardPairs for the collision argument): the
    * distinct, the persisted table, the signature aggregation and both
    * exact-Jaccard re-rank sides carry 8-byte keys instead of ~20-char
    * strings — the string materialization was the source of dedup_fuzzy's
    * 4x driver-run timing swing in round 8. Since r12 the gram hash is
    * the CROSS-ENGINE word-polyhash composition
    * (wordHashExpr/gramFromWordsExpr) and the minhashes are integer mixes
    * of it (minhashMix) instead of seeded xxhash64 — same uniformity in
    * practice (MlSpec planted-pair recall unchanged), but DuckDB can
    * rebuild the identical sketch, so dedup_fuzzy is hash-exact oracled
    * (minhashOracleSql). Cached via ensureCached, so a same-session
    * re-entry never double-persists and the first consumer's stage fills
    * the cache for the signature aggregation and the re-rank joins
    * (graft.Caching ownership contract — the harness clearCache or the
    * caller retires it).
    */
  def gramTable(s: SparkSession, docs0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.PolyHashArr.register(s)
    graft.Caching.ensureCached(docs0
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3) // sequence(1,0) DESCENDS on Spark — drop short docs
      // the sf fixture is ONE parquet file = one partition; spread the
      // shingle explode across cores (at cluster scale the scan arrives
      // already partitioned)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("hw", expr(wordHashExpr))
      .select(col("doc_id"), explode(expr(gramFromWordsExpr)).as("gh"))
      .distinct())
  }

  /** 5-band × 2-row minhash signatures (doc_id, n, bi, bv1, bv2) off the
    * gram table: 10 deterministic minhashes AND the doc's shingle count in
    * ONE map-side-combinable aggregation; n rides through the bands so no
    * separate sizes aggregation/joins are needed later. The band key is
    * the RAW minhash pair (bv1, bv2) — hashing the pair again (the r7-r11
    * xxhash64 form) added nothing but engine-specificity. This is the
    * per-doc map+agg stage a STREAMING ingest runs too (StreamingSpec's
    * online near-dup filter consumes exactly these rows).
    */
  def bandSignatures(grams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandsFromSig(sigTable(grams))

  /** WIDE per-doc signature table (doc_id, n, m0..m9): the 10 deterministic
    * minhashes AND the shingle count in ONE map-side-combinable aggregation
    * over the gram table. [[bandSignatures]] explodes this into band rows;
    * `dedup_calibration` consumes it directly to compare full sketches. */
  def sigTable(grams: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val aggCols = count(lit(1)).as("n") +:
      (0 until MinhashK).map(i => min(expr(minhashMix(i, "gh"))).as(s"m$i"))
    grams.groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
  }

  /** Band-row explode of a [[sigTable]] frame: (doc_id, n, bi, bv1, bv2). */
  def bandsFromSig(sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sig.select(col("doc_id"), col("n"), explode(array(
        (0 until 5).map(b => struct(lit(b).as("bi"),
          col(s"m${2 * b}").as("bv1"), col(s"m${2 * b + 1}").as("bv2"))): _*)).as("band"))
      .select(col("doc_id"), col("n"), col("band.bi"), col("band.bv1"), col("band.bv2"))

  /** MinHash banded near-dup pairs of `docs` (doc_id, text): all pairs
    * da <= db with exact shingle-Jaccard distance <= 0.3 that collide in
    * at least one minhash band — see [[gramTable]]/[[bandSignatures]] for
    * the kernel; this adds the size-ratio-guarded band equi-join and the
    * exact-Jaccard re-rank (5 bands × 2 rows: recall at J=0.7 is
    * 1-(1-0.49)^5 ≈ 0.97). Shared by dedup_fuzzy and MlSpec's
    * planted-pair test so the test exercises the production path.
    */
  def minhashNearDupPairs(s: SparkSession, docs0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grams = gramTable(s, docs0)
    val bands = bandSignatures(grams)
    // J <= min(na,nb)/max(na,nb): the size-ratio guard discards
    // size-incompatible collisions IN the candidate join itself,
    // before the per-shingle intersection join
    val guarded = bands.toDF("da", "na", "bi", "bv1", "bv2")
      .join(bands.toDF("db", "nb", "bi2", "bv1b", "bv2b"),
        expr("bi = bi2 AND bv1 = bv1b AND bv2 = bv2b AND da <= db" +
          " AND cast(least(na, nb) as double) / greatest(na, nb) >= 0.7"))
      .select("da", "db", "na", "nb").distinct()
    val common = guarded.select("da", "db")
      .join(grams.toDF("da3", "gh"), expr("da = da3"))
      .join(grams.toDF("db3", "gh2"), expr("db = db3 AND gh = gh2"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    // dist <= 0.3 as EXACT integer cross-multiplication (dist = 1 - c/u
    // with u = na+nb-c, so dist <= 3/10 iff 7u <= 10c), and the distance
    // ships as dist_e3 = floor(1000*(u-c)/u) - no double anywhere
    guarded.join(common, Seq("da", "db"))
      .filter(expr("7 * (na + nb - c) <= 10 * c"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        expr("cast((1000 * (na + nb - 2 * c)) div (na + nb - c) as bigint)")
          .as("dist_e3"))
      .orderBy("doc_a", "doc_b")
  }
}
