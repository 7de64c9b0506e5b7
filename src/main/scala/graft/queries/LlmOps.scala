package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.ExactRatio
import graft.multimodal.Multimodal

/** SURVEY.md §2.13 (north-star `[N]`) — the large-scale training-data
  * pipeline suite beyond the reference's own surface: deduplication
  * (n-gram Jaccard pairs + connected-component clustering, SimHash,
  * embedding cosine), LSH-bucketed ANN, text analysis (language-ID
  * heuristic, quality scoring, token counting, fingerprinting), and
  * multimodal binary-column plumbing.
  *
  * Scale design notes (100 TB):
  * - Pairwise dedups never materialise the full cross product: Jaccard
  *   pairs come from an equi-join on shared shingles (with a doc-frequency
  *   cap dropping shingles shared by > 50 docs so no hot key serialises a
  *   shuffle partition), SimHash pairs from an equi-join on 16-bit bands,
  *   ANN candidates from an equi-join on hyperplane-signature bands — all
  *   shuffle-parallel on their keys.
  * - Engine-specific hash functions (murmur3 in `hash()`) never appear in
  *   oracled queries — SimHash/ANN are rows-only + ScalaTest.
  */
object LlmOps {

  // keyword sets drawn from the fixture vocabulary so scores are non-trivial
  private val langKw = Seq(
    "en" -> Seq("the", "fast"), "de" -> Seq("scan", "merge"),
    "es" -> Seq("join", "hash"), "fr" -> Seq("sort", "table"),
    "zh" -> Seq("key", "order"))

  private def inList(words: Seq[String]) = words.map("'" + _ + "'").mkString(", ")

  /** Lloyd round count — the ONE copy behind kmeans_iter's Spark loop,
    * its final-round cache trigger, and the oracle's generated CTE
    * chain. Declared BEFORE `all`: the Q list builds eagerly at object
    * init and bakes this into the oracle string. */
  private val kmeansRounds = 3

  val all: Seq[Q] = Seq(

    // n-gram-overlap language-ID heuristic; deterministic argmax tie-break
    Q("text_langid", {
      val scoresO = langKw.map { case (l, ws) =>
        s"CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN (${inList(ws)}))) AS INT) AS s_$l"
      }.mkString(",\n  ")
      val pred =
        """CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
          |     WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
          |     WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
          |     WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred""".stripMargin
      s"""SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh, $pred
         |FROM (SELECT doc_id, lang,
         |  $scoresO
         |FROM documents) ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val scored = langKw.foldLeft(Tables.documents(s, d)) { case (df, (l, ws)) =>
        df.withColumn(s"s_$l",
          expr(s"size(filter(split(lower(text), ' '), t -> t IN (${inList(ws)})))"))
      }
      scored.select(col("doc_id"), col("lang"),
        col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"),
        expr(
          """CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
            |     WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
            |     WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
            |     WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END""".stripMargin).as("pred"))
        .orderBy("doc_id")
    },

    // length/stopword/word-shape quality score
    Q("text_quality",
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
         |  CAST(length(text) AS INT) AS n_char,
         |  CAST((1000000 * (length(text) - (len(string_split(text, ' ')) - 1)))
         |        // len(string_split(text, ' ')) AS BIGINT) AS avg_wlen_e6,
         |  CAST((1000000 * len(list_filter(string_split(lower(text), ' '),
         |        t -> t IN ('the', 'fast', 'slow'))))
         |        // len(string_split(text, ' ')) AS BIGINT) AS stop_e6
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        expr("size(split(text, ' '))").as("n_tok"),
        length(col("text")).as("n_char"),
        expr("cast((1000000 * cast(length(text) - (size(split(text, ' ')) - 1) as bigint)) div size(split(text, ' ')) as bigint)").as("avg_wlen_e6"),
        expr("cast((1000000 * cast(size(filter(split(lower(text), ' '), t -> t IN ('the', 'fast', 'slow'))) as bigint)) div size(split(text, ' ')) as bigint)").as("stop_e6"),
      ).orderBy("doc_id")
    },

    // whitespace + BPE-ish regex token counts
    Q("text_token_count",
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        expr("size(split(text, ' '))").as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("bpe_tokens"),
      ).orderBy("doc_id")
    },

    // polynomial rolling-hash document fingerprint (mod 1e9+7)
    Q("text_fingerprint",
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        expr("aggregate(split(text, ''), cast(0 as bigint), (a, c) -> (a * 31 + ascii(c)) % 1000000007)").as("fp"),
      ).orderBy("doc_id")
    },

    // repetition quality signal (the Gopher-style "fraction of duplicate
    // n-grams" filter): per doc, the duplicate-word and duplicate-bigram
    // fractions. Pure per-row expression pipeline — higher-order
    // functions only, zero shuffles besides the output sort, so at
    // 100 TB this is a map-only pass that fuses into whatever scan
    // feeds it. The duplicate fractions ship as exact e6 integers
    // (floor of 1e6*(n-distinct)/n) - per-doc grain means millions of
    // rows of boundary exposure, the class the r14 forensics killed.
    Q("text_repetition",
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, t, CASE WHEN len(t) >= 2 THEN
         |    list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])
         |  ELSE [] END AS bg FROM toks)
         |SELECT doc_id,
         |  CAST(len(t) AS INT) AS n_tok,
         |  CAST((1000000 * (len(t) - len(list_distinct(t)))) // len(t)
         |    AS BIGINT) AS dup_word_e6,
         |  CAST(CASE WHEN len(bg) = 0 THEN 0
         |        ELSE (1000000 * (len(bg) - len(list_distinct(bg)))) // len(bg) END
         |    AS BIGINT) AS dup_bigram_e6
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("bg", expr(
          """case when size(t) >= 2 then transform(sequence(1, size(t) - 1),
            |  i -> concat(element_at(t, i), ' ', element_at(t, i+1)))
            |else cast(array() as array<string>) end""".stripMargin))
        .select(col("doc_id"),
          expr("size(t)").as("n_tok"),
          expr("cast((1000000 * cast(size(t) - size(array_distinct(t)) as bigint)) div size(t) as bigint)")
            .as("dup_word_e6"),
          expr(
            """cast(case when size(bg) = 0 then 0
              |  else (1000000 * cast(size(bg) - size(array_distinct(bg)) as bigint)) div size(bg) end as bigint)""".stripMargin)
            .as("dup_bigram_e6"))
        .orderBy("doc_id")
    },

    // exact n-gram Jaccard near-dup pairs via shared-shingle equi-join
    // (pair generator + skew guard factored into jaccardPairs below)
    Q("dedup_ngram_jaccard",
      s"""WITH $jaccardCte
         |SELECT da, db, CAST(floor(jac * 1000 + 0.5) AS BIGINT) AS jac_e3 FROM jpairs
         |ORDER BY da, db""".stripMargin) { (s, d) =>
      jaccardPairs(s, d)
        .select(col("da"), col("db"), expr("cast(floor(jac * 1000 + 0.5) as bigint)").as("jac_e3"))
        .orderBy("da", "db")
    },

    // duplicate CLUSTERING: connected components over the exact Jaccard
    // pair graph (transitive closure — A~B and B~C cluster A,B,C even if
    // A,C never pair), min-id representative per cluster. What a real
    // pipeline keeps is is_rep = true. Oracled end-to-end: DuckDB
    // computes the same components with a recursive CTE.
    Q("dedup_cluster",
      s"""WITH RECURSIVE $jaccardCte,
         |sym AS (
         |  SELECT da AS a, db AS b FROM jpairs
         |  UNION SELECT db, da FROM jpairs
         |  UNION SELECT doc_id, doc_id FROM documents),
         |reach(node, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
         |)
         |SELECT node AS doc_id, min(r) AS cluster_id,
         |  CAST(count(*) OVER (PARTITION BY min(r)) AS INT) AS cluster_size,
         |  CAST(node = min(r) AS BOOLEAN) AS is_rep
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, d) =>
      val labels = clusterLabels(s, d)
      val w = Window.partitionBy("cluster_id")
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, col("doc_id") === col("p_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
        .withColumn("is_rep", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    },

    // embedding-cosine near-dup pairs — the EXACT all-pairs variant, with
    // the corpus bound ENFORCED in the query (both engines): exact
    // pairwise cosine is O(n²) by definition, so it is only offered for a
    // bounded slice (vec_id < 4096 covers the whole fixture at every sf);
    // the unbounded 100 TB path is the banded ann_lsh_bucket /
    // dedup_simhash family. The bounded side is broadcast so the plan is
    // an explicitly-bounded BroadcastNestedLoopJoin, not one over an
    // unbounded corpus.
    // Oracle cosine uses TextSim.cosineSql — the builtin
    // list_cosine_similarity rounds 1 ulp differently on ~1/3 of pairs
    // (two sqrts vs one), which can flip the >= 0.4 edge predicate on a
    // near-threshold pair; cosineSql is bit-identical to the Spark side
    // on every fixture pair, so the edge SET matches by construction.
    Q("dedup_embedding",
      s"""WITH ${TextSim.cosineEdgesCte(TextSim.DedupCosineBound, TextSim.DedupCosineThrSql)}
         |SELECT a_id, b_id, CAST(floor(sim * 1000 + 0.5) AS BIGINT) AS sim_e3
         |FROM ep ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      TextSim.cosineEdges(s, d, TextSim.DedupCosineBound, TextSim.DedupCosineThr)
        .select(col("a_id"), col("b_id"), expr("cast(floor(sim * 1000 + 0.5) as bigint)").as("sim_e3"))
        .orderBy("a_id", "b_id")
    },

    // SEMANTIC duplicate clustering: connected components over the
    // embedding-cosine pair graph (sim >= 0.4, the dedup_embedding edge
    // set) — the embedding-space twin of dedup_cluster's lexical CC.
    // Same corpus bound as dedup_embedding (vec_id < 4096, enforced
    // in-query on both engines): exact all-pairs cosine is the bounded
    // form; the unbounded 100 TB edge generator is the banded
    // ann_lsh_bucket family feeding the same ConnectedComponents
    // operator. Isolated vectors are their own cluster (minLabel keeps
    // unreferenced nodes). Oracled end-to-end via a recursive-CTE
    // reachability twin.
    Q("embedding_cluster",
      s"""WITH RECURSIVE ${TextSim.cosineEdgesCte(TextSim.DedupCosineBound, TextSim.DedupCosineThrSql)},
         |sym AS (SELECT a_id AS a, b_id AS b FROM ep
         |  UNION SELECT b_id, a_id FROM ep
         |  UNION SELECT vec_id, vec_id FROM embeddings WHERE vec_id < 4096),
         |reach(node, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a)
         |SELECT node AS vec_id, min(r) AS cluster_id,
         |  CAST(count(*) OVER (PARTITION BY min(r)) AS INT) AS cluster_size,
         |  CAST(node = min(r) AS BOOLEAN) AS is_rep
         |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin) { (s, d) =>
      // cache the O(n²/2)-cosine edge list: ConnectedComponents consumes
      // it more than once (size probe + label loop) and the pair join is
      // the dominant stage — uncached it would execute per consumer
      val edges = graft.Caching.ensureCached(
        TextSim.cosineEdges(s, d, TextSim.DedupCosineBound, TextSim.DedupCosineThr)
          .select(col("a_id").as("a"), col("b_id").as("b")))
      val nodes = Tables.embeddings(s, d).filter(col("vec_id") < 4096)
        .select(col("vec_id").as("node"))
      val labels = graft.operators.ConnectedComponents.minLabel(nodes, edges)
      val w = Window.partitionBy("cluster_id")
      labels.select(col("node").as("vec_id"), col("lbl").as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(w).cast("int"))
        .withColumn("is_rep", col("vec_id") === col("cluster_id"))
        .orderBy("vec_id")
    },

    // SimHash near-dup candidates: 64-bit signature over 3-gram shingle
    // hashes (frequency-weighted — shingles, not distinct tokens: on a
    // small shared vocabulary token-set signatures collapse to hamming 0
    // for unrelated docs), 8x8-bit banded equi-join, Hamming re-rank.
    // Hash-exact oracled since r12: the gram hash is TextSim's
    // cross-engine word-polyhash composition and the 64 signature bits
    // come from two salted 32-bit integer mixes of it (intMix 101/102) —
    // DuckDB rebuilds the identical signatures (the r9-r11 xxhash64 form
    // was engine-specific, rows-only). Selectivity still asserted in
    // MlSpec.
    Q("dedup_simhash", simhashOracleSql) { (s, d) =>
      // the shingle is hashed INSIDE the lambda (words polyhashed once,
      // grams composed from word hashes) — the explode emits longs, never
      // materializing per-row gram strings (r9, same as jaccardPairs)
      graft.functions.PolyHashArr.register(s)
      val shingles = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .filter(size(col("w")) >= 3) // see dedup_ngram_jaccard: sequence(1,0) descends
        .withColumn("hw", expr(TextSim.wordHashExpr))
        .select(col("doc_id"), explode(expr(TextSim.gramFromWordsExpr)).as("gh"))
        .select(col("doc_id"),
          expr(TextSim.intMix(101, "gh")).as("h1"),
          expr(TextSim.intMix(102, "gh")).as("h2"))
      // single-pass signature: 64 map-side-combinable sign-sums (one agg
      // column per bit) instead of exploding 64 rows per shingle — same
      // sums, same bits, 1/64th the rows through the shuffle. Bits 0-31
      // read the first 32-bit mix, 32-63 the second.
      val bitSums = (0 until 64).map { b =>
        val (src, off) = if (b < 32) ("h1", b) else ("h2", b - 32)
        sum(expr(s"CASE WHEN (shiftright($src, $off) & 1) = 1 THEN 1 ELSE -1 END")).as(s"sv$b")
      }
      // OR-assembly (bits are disjoint; DuckDB's + would overflow-check
      // the 1<<63 sign-bit term, | does not)
      val sigBits = (0 until 64).map(b =>
        expr(s"CASE WHEN sv$b >= 0 THEN shiftleft(cast(1 as bigint), $b) ELSE cast(0 as bigint) END"))
      val sig = graft.Caching.ensureCached(
        shingles.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"), sigBits.reduce(_ bitwiseOR _).as("sig"))
      ) // cached: two band-join branches below read it; tiny (one long
        // per doc), and the first branch's stage fills it
      val bands = sig.select(col("doc_id"), col("sig"),
        explode(expr("array(0, 1, 2, 3, 4, 5, 6, 7)")).as("bi"))
        .withColumn("bv", expr("(shiftright(sig, bi * 8)) & 255"))
      val a = bands.toDF("da", "sig_a", "bi", "bv")
      val b2 = bands.toDF("db", "sig_b", "bi2", "bv2")
      a.join(b2, expr("bi = bi2 AND bv = bv2 AND da < db"))
        .select("da", "db", "sig_a", "sig_b").distinct()
        .withColumn("hamming", expr("cast(bit_count(sig_a ^ sig_b) as int)"))
        .filter(col("hamming") <= 8)
        .select("da", "db", "hamming")
        .orderBy("da", "db")
    },

    // ANN: 32 deterministic ±1 hash-sign hyperplanes -> 8x4-bit band
    // buckets -> candidate equi-join -> exact cosine re-rank, top-3. The
    // 100 TB path for similarity search (recall vs brute force asserted in
    // MlSpec; band shape re-swept r12 — see lshSigUdf scaladoc).
    // Oracled hash-exact since r12: the signature is integer arithmetic
    // (Multimodal.lshPlaneSign), so DuckDB rebuilds the identical buckets.
    Q("ann_lsh_bucket",
      s"""WITH ${lshOracleCtes(nBands = 8, bandBits = 4)},
         |r AS (SELECT a_id, b_id, sim,
         |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rnk
         |  FROM sims)
         |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk,
         |  CAST(floor(sim * 1000 + 0.5) AS BIGINT) AS sim_e3
         |FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      lshCandidates(s, d, probeLimit = 50)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), expr("cast(floor(sim * 1000 + 0.5) as bigint)").as("sim_e3"))
        .orderBy("vec_id", "rnk")
    },

    // the 100 TB form of knn_label: majority label over the LSH candidate
    // set instead of the brute-force all-pairs scan — same vote windows as
    // knn_label, candidates from the same banded join as ann_lsh_bucket.
    // A probe whose buckets surface fewer than 5 candidates votes over
    // what it has (standard ANN behavior). Oracled hash-exact since r12
    // (deterministic hash-sign planes); label agreement vs brute-force
    // knn_label additionally gated in MlSpec.
    Q("knn_label_ann",
      s"""WITH ${lshOracleCtes(nBands = 10, bandBits = 3)},
         |top5 AS (SELECT * FROM sims
         |  QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) <= 5),
         |votes AS (SELECT a_id, b_lbl, count(*) AS votes FROM top5 GROUP BY a_id, b_lbl)
         |SELECT a_id AS vec_id, b_lbl AS pred_label, votes FROM votes
         |QUALIFY row_number() OVER (PARTITION BY a_id ORDER BY votes DESC, b_lbl) = 1
         |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val wTop = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      val wVote = Window.partitionBy("a_id").orderBy(col("votes").desc, col("b_lbl"))
      // COARSER bands than ann_lsh_bucket (10×3-bit vs 8×4-bit from the
      // same 32-bit signature — FEWER bits per band ⇒ more collisions per
      // band ⇒ a wider candidate set): a LABEL vote needs the top-5
      // neighbor set to be near-exact, so the candidate join trades more
      // candidates for the recall the vote requires. To tune recall UP,
      // reduce bits per band or add bands; adding bits per band collapses
      // recall (see lshSigUdf's measurements).
      lshCandidates(s, d, probeLimit = 50, nBands = 10, bandBits = 3)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 5)
        .groupBy("a_id", "b_lbl").agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("a_id").as("vec_id"), col("b_lbl").as("pred_label"), col("votes"))
        .orderBy("vec_id")
    },

    // ANN variant 2 — IVF: deterministic integer-Lloyd coarse quantizer,
    // probe the nProbe nearest centroids, exact cosine re-rank of
    // candidates only. Complements ann_lsh_bucket: IVF adapts buckets to
    // the data distribution (better recall on clustered corpora), LSH
    // needs no training. Hash-exact oracled since r12 (was rows-only:
    // seeded-RNG float init): the fit runs in exact ×10⁶ integer space
    // from a deterministic init (first 16 of the hash-ordered sample),
    // centroid probing ranks by exact integer d2, and only the final
    // cosine re-rank is double (the sim_cosine_topk discipline) — DuckDB
    // replays the whole train+assign+probe+re-rank pipeline
    // (ivfOracleSql). Recall@3 re-measured r12: 0.613 (was 0.44 seeded,
    // gate >= 0.35 in MlSpec) at 97/500 avg candidates.
    Q("ann_ivf", ivfOracleSql) { (s, d) =>
      graft.functions.DotProduct.register(s)
      val e = Tables.embeddings(s, d)
      val nClusters = 16
      // coarse quantizer, not a clustering deliverable: train on a
      // bounded DETERMINISTIC corpus-spread sample — bottom-k by the
      // decimal-before-multiply Knuth hash of vec_id (the ml_folds
      // formula; engine-stable, overflow-proof): a uniform sample of the
      // WHOLE id space (a vec_id-prefix cap would fit the quantizer to
      // the oldest shard only), planned as TakeOrdered (per-partition
      // top-k, no global sort). 16 centroids don't need Lloyd passes
      // over the full corpus; at 100 TB a distributed fit would re-scan
      // everything 5 times to learn 16×64 values (kmeans_iter IS that
      // fully-distributed form). The local integer Lloyd costs zero
      // Spark jobs beyond the sample scan; ASSIGNMENT of the full
      // corpus below stays distributed (one map-side pass).
      val centroids = coarseFit(s, d, nClusters)
      // single-pass nearest-centroid assignment in exact integer space;
      // closure captures the (tiny) centroid matrix — same shape MLlib's
      // transform would plan, without the pipeline overhead. Strict <
      // keeps the lowest cluster index on ties (= ORDER BY d2, c).
      val centMat = centroids.map(_._1)
      val assignU = udf((emb: Seq[Float]) => {
        var best = 0; var bestD = Long.MaxValue
        var c = 0
        while (c < centMat.length) {
          val cent = centMat(c); var d2 = 0L; var j = 0
          while (j < cent.length) {
            val df = math.floor(emb(j).toDouble * 1000000d + 0.5d).toLong - cent(j)
            d2 += df * df; j += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      })
      val assigned = TextSim.withVecNorm(
        e.select(col("vec_id"), col("embedding"),
          expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))").as("qv"),
          assignU(col("embedding")).as("cluster")), "v")
      // per-probe: the 3 nearest centroids by EXACT integer d2 (r12 —
      // was cosine in doubles; integer ranking removes the one ulp-rank
      // risk in the probe step, and the probe set is what bounds the
      // re-rank join). nProbe=3: candidate set stays ~20% of the corpus.
      val centDf = s.createDataFrame(centroids.toIndexedSeq.map { case (cv, i) =>
        (i.toLong, cv.toSeq) }).toDF("c_id", "cv")
      val probes = assigned.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("qv"), col("v_d").as("a_d"),
          col("v_n2").as("a_n2"))
      val wc = Window.partitionBy("a_id").orderBy(col("cd2").asc, col("c_id").asc)
      val probeClusters = probes.crossJoin(broadcast(centDf))
        .withColumn("cd2", expr(
          "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), cast(0 as bigint), (acc, x) -> acc + x)"))
        .withColumn("crnk", row_number().over(wc))
        .filter(col("crnk") <= 3)
        .select("a_id", "a_d", "a_n2", "c_id")
      val corpus = assigned.drop("qv").toDF("b_id", "b_cluster", "b_d", "b_n2")
      val w = Window.partitionBy("a_id").orderBy(col("sim").desc, col("b_id"))
      broadcast(probeClusters)
        .join(corpus, expr("c_id = b_cluster AND a_id <> b_id"))
        .withColumn("sim", expr(s"${TextSim.dotExpr("a_d", "b_d")} / sqrt(a_n2 * b_n2)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), expr("cast(floor(sim * 1000 + 0.5) as bigint)").as("sim_e3"))
        .orderBy("vec_id", "rnk")
    },

    // multimodal: opaque binary column + typed metadata, parity-checked
    Q("mm_binary_meta",
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         |  upper(substring(hex(encode(text)), 1, 16)) AS head_hex
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Multimodal.withMedia(Tables.documents(s, d))
        .select(col("doc_id"),
          octet_length(col("media")).as("n_bytes"),
          upper(substring(hex(col("media")), 1, 16)).as("head_hex"))
        .orderBy("doc_id")
    },

    // decode/feature-extract runs the mapPartitions stub end-to-end
    // (schema + batching real; byte decode is the clearly-marked fake)
    Q("mm_decode_features", { (s: SparkSession, d: String) =>
      Multimodal.decodeFeatures(s, Multimodal.withMedia(Tables.documents(s, d)))
        .toDF()
        .orderBy("doc_id")
    }, None),

    // multimodal frame sampling: uniformly sample at most 32 frames per
    // media item from its metadata (duration stand-in = byte length,
    // 10 ms per frame step) — the standard video-training subsample.
    // Pure integer math over the meta struct + one explode: no decode
    // needed to PLAN frames, no shuffle beyond the presentation sort,
    // scales linearly. The byte-level frame decode remains the
    // mm_decode_features stub (no media libs in this image).
    Q("mm_frame_sample",
      s"""WITH m AS (SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS INT) AS dur_ms FROM documents),
         |n AS (SELECT doc_id, dur_ms,
         |    least(32, dur_ms // 10 + 1) AS n_frames FROM m),
         |f AS (SELECT doc_id, dur_ms, n_frames,
         |    unnest(generate_series(0, n_frames - 1)) AS i FROM n)
         |SELECT doc_id, CAST(i AS INT) AS frame_idx,
         |  CAST((i * dur_ms) // n_frames AS BIGINT) AS frame_ts_ms
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.withMedia(Tables.documents(s, d))
        .select(col("doc_id"), col("media_meta.n_bytes").as("dur_ms"))
        .withColumn("n_frames", least(lit(32), expr("dur_ms div 10 + 1")))
        .select(col("doc_id"), col("dur_ms"), col("n_frames"),
          explode(expr("sequence(0, n_frames - 1)")).as("i"))
        .select(col("doc_id"), col("i").cast("int").as("frame_idx"),
          expr("cast((i * dur_ms) div n_frames as bigint)").as("frame_ts_ms"))
        .orderBy("doc_id", "frame_idx")
    },

    // PII-style scrubbing: chained global regexp_replace — emails and
    // long digit runs (the production patterns; absent from the fixture
    // by construction) plus a blocklisted-entity pattern that DOES fire
    // on the fixture so the oracle exercises real replacement. Pure
    // per-row expression work: no shuffle, scales linearly, stays inside
    // whole-stage codegen.
    Q("text_redact",
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+', '<EMAIL>', 'g'),
         |    '[0-9][0-9][0-9][0-9]+', '<NUM>', 'g'),
         |    '\\b(customer|supplier)\\b', '<ENT>', 'g') AS red_text,
         |  CAST(len(regexp_extract_all(text, '\\b(customer|supplier)\\b')) AS INT) AS n_ent
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"), lit("<EMAIL>")),
          lit("[0-9][0-9][0-9][0-9]+"), lit("<NUM>")),
          lit("\\b(customer|supplier)\\b"), lit("<ENT>")).as("red_text"),
        expr("size(regexp_extract_all(text, '\\\\b(customer|supplier)\\\\b', 0))").as("n_ent"))
        .orderBy("doc_id")
    },

    // per-stratum deterministic sampling: modulo on the stable key, not
    // rand() — reproducible across engines, runs, and partitionings; the
    // per-language rate map downsamples the dominant language (the
    // standard mixture-rebalancing move). Pure filter: pushes to the
    // scan, no shuffle.
    Q("sample_stratified",
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE doc_id % 10 < CASE WHEN lang = 'en' THEN 1 ELSE 5 END
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(expr("doc_id % 10 < CASE WHEN lang = 'en' THEN 1 ELSE 5 END"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // training-sequence packing: assign each document to the fixed
    // 512-token pack in which it STARTS, by running token count within a
    // shard (shard = lang here; a production pipeline shards by file or
    // hash bucket). The window partitions by shard so packing is
    // shuffle-parallel across shards — no global single-partition
    // ordering at 100 TB; within a shard the running sum is the same
    // one-pass scan a streaming pack-loader does.
    Q("pack_sequences",
      s"""WITH sized AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents),
         |cum AS (SELECT doc_id, lang, n_tok,
         |  COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before
         |  FROM sized)
         |SELECT doc_id, lang, n_tok, CAST(tok_before // 512 AS INT) AS pack_id
         |FROM cum ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          expr("size(split(text, ' '))").as("n_tok"))
        .withColumn("tok_before", coalesce(sum("n_tok").over(w), lit(0L)))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("cast(tok_before div 512 as int)").as("pack_id"))
        .orderBy("doc_id")
    },

    // end-to-end dedup RETENTION policy: cluster near-duplicates (same
    // capped-Jaccard pair graph + connected components as dedup_cluster)
    // and keep the longest member per cluster, ties to the smallest
    // doc_id — what a real pipeline materializes before training.
    // Oracled end-to-end incl. the transitive closure (recursive CTE).
    Q("dedup_retention",
      s"""WITH RECURSIVE $jaccardCte,
         |sym AS (
         |  SELECT da AS a, db AS b FROM jpairs
         |  UNION SELECT db, da FROM jpairs
         |  UNION SELECT doc_id, doc_id FROM documents),
         |reach(node, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a
         |),
         |comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
         |sized AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tok
         |  FROM documents)
         |SELECT s.doc_id, c.cluster_id, s.n_tok,
         |  (row_number() OVER (PARTITION BY c.cluster_id
         |     ORDER BY s.n_tok DESC, s.doc_id)) = 1 AS keep
         |FROM sized s JOIN comp c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val labels = clusterLabels(s, d)
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_tok").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), expr("size(split(text, ' '))").as("n_tok"))
        .join(labels, col("doc_id") === col("p_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"), col("n_tok"))
        .withColumn("keep", row_number().over(w) === 1)
        .select("doc_id", "cluster_id", "n_tok", "keep")
        .orderBy("doc_id")
    },

    // benchmark decontamination: flag training docs sharing any 4-gram
    // (word-level, lang-blocked) with an eval-benchmark set — here a
    // deterministic modulo slice of `documents` stands in for the
    // benchmark. Scale shape: the benchmark side is SMALL BY
    // CONSTRUCTION (eval sets are MBs; a 100 TB corpus is not), so its
    // distinct-shingle set is broadcast and the contamination check is a
    // map-side hash probe over the training shingle stream — zero
    // shuffle until the tiny per-doc aggregate keyed on doc_id. The
    // distinct-per-doc shingling (array_distinct BEFORE explode) bounds
    // each doc's contribution to its shingle count.
    Q("decontaminate",
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         |g AS (SELECT doc_id, lang, unnest(list_distinct(CASE WHEN len(t) >= 4 THEN
         |    list_transform(generate_series(1, len(t) - 3),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])
         |  ELSE [] END)) AS gram FROM toks),
         |bench AS (SELECT doc_id AS b_id, lang, gram FROM g WHERE doc_id % 41 = 0),
         |train AS (SELECT doc_id, lang, gram FROM g WHERE doc_id % 41 <> 0)
         |SELECT train.doc_id,
         |  CAST(count(DISTINCT train.gram) AS INT) AS n_shared,
         |  CAST(count(DISTINCT bench.b_id) AS INT) AS n_bench_docs
         |FROM train JOIN bench
         |  ON train.gram = bench.gram AND train.lang = bench.lang
         |GROUP BY train.doc_id ORDER BY train.doc_id""".stripMargin) { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("lang"), explode(expr(
          """array_distinct(case when size(t) >= 4 then transform(sequence(1, size(t) - 3),
            |  i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ',
            |              element_at(t, i+2), ' ', element_at(t, i+3)))
            |else cast(array() as array<string>) end)""".stripMargin)).as("gram"))
      val bench = grams.filter("doc_id % 41 = 0").withColumnRenamed("doc_id", "b_id")
      val train = grams.filter("doc_id % 41 <> 0")
      train.join(broadcast(bench), Seq("gram", "lang"))
        .groupBy("doc_id")
        .agg(countDistinct("gram").cast("int").as("n_shared"),
          countDistinct("b_id").cast("int").as("n_bench_docs"))
        .orderBy("doc_id")
    },

    // Distributed fixed-iteration k-means (k=4, 3 Lloyd rounds) over the
    // embedding corpus — the fully-distributed trainer that closes
    // ann_ivf's one scale caveat (its quantizer fits on a driver-collected
    // sample; this one never leaves the cluster). Everything runs in
    // exact ×10⁶-quantized integer space so all three rounds are
    // bit-identical cross-engine: distances are BIGINT sums of squared
    // integer gaps, assignment is the lexicographic min of struct(d2, c)
    // — the (distance, id) tie-break explicit — and centroid updates are
    // truncating integer means (`div`/`//` both truncate toward zero).
    // Seeds = the 4 lowest-vec_id vectors (TakeOrdered, deterministic).
    // Per round: a map-side argmin against the inlined centroid literals
    // + one (c, pos) mean exchange — O(rounds) stages. Output:
    // per-cluster size, exact-decimal inertia (to the round-2 centroids
    // vectors were assigned against), and the round-3 centroid component
    // checksum.
    Q("kmeans_iter", kmeansOracle) { (s, d) =>
      import s.implicits._
      val v = graft.Caching.ensureCached(Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as bigint))")
          .as("qv")))
      // The model state (k×d = 256 longs) lives on the driver between
      // rounds — model size, not data size (the broadcast-equivalent
      // bound, like ExactQuantiles' partition counts). Baking each
      // round's centroids in as a literal keeps every round ONE pass
      // over the cached corpus instead of a lineage that re-executes
      // all prior rounds per action.
      var cent: Seq[(Long, Seq[Long])] = v.orderBy("vec_id").limit(4)
        .collect().toSeq.sortBy(_.getLong(0)).zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }
      // r22 (VERDICT r21 item 4, guide §2.4): the assignment used to
      // crossJoin(broadcast(cent)) into |V|·k distance rows reduced by a
      // groupBy(vec_id) argmin — one broadcast-build job plus a |V|·k
      // exchange per round, and the centroid update then JOINED the
      // assignment back to v (another exchange). The centroids are
      // driver literals already, so the argmin needs no join and no
      // shuffle at all: array_min over the k inline struct(d2, c) terms
      // is the same lexicographic min(struct(d2, c)) — identical
      // exact-integer distance arithmetic (same zip_with/aggregate
      // fold), identical (d2, c) tie-break — evaluated map-side per
      // vector. The assignment carries qv forward, so the update
      // aggregates straight off it instead of re-joining v. Per round:
      // 3 exchanges + broadcast build -> 1 exchange ((c, pos) mean).
      // Jobs (KeyCountsSpec's audited baseline): build 17 -> 8, run unchanged
      // at 5 (MlSpec re-derives the fit bit-exactly).
      def assignAgainst(c: Seq[(Long, Seq[Long])]) = {
        // an empty centroid list would render as array_min(array()) —
        // invalid SQL — so an empty corpus fails here, by name
        require(c.nonEmpty,
          "kmeans_iter: no centroids to assign against (embeddings has no rows)")
        val structs = c.map { case (ci, cv) =>
          val arr = cv.mkString("array(", "L,", "L)")
          s"struct(aggregate(zip_with(qv, $arr, (a, b) -> (a - b) * (a - b)), " +
            s"cast(0 as bigint), (acc, x) -> acc + x) AS d2, ${ci}L AS c)"
        }.mkString(",")
        v.select(col("vec_id"), col("qv"),
            expr(s"array_min(array($structs))").as("m"))
          .select(col("vec_id"), col("qv"), col("m.c").as("c"), col("m.d2").as("d2"))
      }
      var asgn: org.apache.spark.sql.DataFrame = null
      for (k <- 1 to kmeansRounds) {
        asgn = assignAgainst(cent)
        // the final round's assignment feeds BOTH the centroid update
        // collect and the returned output plan — cache it so the
        // distance pass runs once, not twice
        if (k == kmeansRounds) asgn = graft.Caching.ensureCached(asgn)
        val upd = asgn
          .select(col("c"), posexplode(col("qv")))
          .groupBy("c", "pos")
          .agg(expr("cast(sum(col) div count(*) as bigint)").as("cve"))
        cent = upd
          .collect().toSeq
          .groupBy(_.getLong(0)).toSeq
          .map { case (c, rows) =>
            (c, rows.sortBy(_.getInt(1)).map(_.getLong(2))) }
          .sortBy(_._1)
        // round plan (argmin + centroid mean — the whole per-round pass)
        // for the PLANS.md iterative-family evidence; no-op unless the
        // capture conf is set
        if (k == 1) graft.plans.PlanProbe.capture("kmeans_round", upd)
      }
      val cks = cent.map { case (c, cv) => (c, cv.sum) }.toDF("c", "cent_sum")
      asgn.groupBy("c")
        .agg(count(lit(1)).as("n"),
          expr(s"cast(${ExactRatio.bigSum(ExactRatio.SparkF, "d2")} as double) / 1e12").as("inertia"))
        .join(broadcast(cks), "c")
        .select(col("c"), col("n"), col("inertia"), col("cent_sum"))
        .orderBy("c")
    },

    // Product quantization — the FAISS-style IVF-PQ storage format's
    // training + encoding half: split each 64-dim vector into 16×4-dim
    // subspaces (the standard fine geometry — coarser 8×8 measured
    // recall@3 0.20 vs 0.31 on this corpus), train a 16-code
    // integer-Lloyd codebook PER SUBSPACE (all sixteen at once — the
    // subspace index rides as data, so the d/a/cl/cent round chain of
    // kmeans_iter trains the whole (sub, c)-keyed codebook table in the
    // same O(rounds) stages), then encode every vector as 16 code ids +
    // its exact integer reconstruction error. 256 bytes of floats become
    // a 64-bit code: the 32× compression that makes a 100 TB embedding
    // corpus ANN-searchable in memory. Scale shape: the codebook
    // (16×16×4 = 1024 longs) is driver model state per round; each
    // round is one pass over the cached subspace frame with a combinable
    // min(struct) argmin and a (sub, c, pos)-keyed combinable mean —
    // nothing grows with the corpus but the two scans. Empty codes keep
    // their previous centroid (the ivfOracleSql COALESCE discipline).
    // Exactness: ×10⁶-quantized BIGINT space throughout; truncating
    // integer means; (d2, c) tie-break explicit — the kmeans_iter parity
    // argument verbatim, so DuckDB replays the identical fit (pqOracle).
    Q("embedding_pq", pqOracle) { (s, d) =>
      val (_, encoded, _) = pqFit(s, d)
      encoded.groupBy("vec_id")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(sub, c))), p -> cast(p.c as string)), ',')")
          .as("codes"),
          sum("d2").as("err2"))
        .orderBy("vec_id")
    },

    // The search half of product quantization — asymmetric distance
    // computation (ADC): each probe precomputes its 16×16 subspace
    // distance table against the trained codebook, and the COMPRESSED
    // corpus is scored by pure table lookups over the 16 code ids — never
    // touching the original vectors. Top-3 per probe by exact integer ADC
    // distance. Scale shape: the fit is shared with embedding_pq (same
    // cached v/subv frames in-session); the distance tables (probes × 256
    // longs) broadcast onto the code table, scoring is one map-only pass
    // over the 64-bit codes — the whole point of PQ at 100 TB: the scan
    // reads codes, not floats — and WindowGroupLimit bounds the per-probe
    // top-3. Probe vectors are collected to build the tables (bounded,
    // documented: probes are a query-side input, model-sized — the
    // ann_ivf sample discipline).
    Q("ann_pq_adc", pqAdcOracle) { (s, d) =>
      import s.implicits._
      val (cent, encoded, v) = pqFit(s, d)
      val codesv = pqCodesFrame(encoded)
      val centMap = cent.map(t => ((t._1, t._2), t._3)).toMap
      val dtab = v.filter(col("vec_id") < pqAdcProbes).collect().toSeq
        .map(r => (r.getLong(0), pqDistTable(r.getSeq[Long](1), centMap)))
        .toDF("a_id", "dt")
      val w = Window.partitionBy("a_id").orderBy(col("adc2"), col("b_id"))
      codesv.crossJoin(broadcast(dtab))
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("vec_id").as("b_id"),
          expr(adcLookupExpr).as("adc2"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), col("adc2"))
        .orderBy("vec_id", "rnk")
    },

    // The composed production ANN index — IVF-PQ, the FAISS shape both
    // halves were built for: the coarse quantizer (ann_ivf's fit) routes
    // each probe to its nprobe=2 nearest cells, and ADC scores ONLY those
    // cells' compressed codes via the probe's precomputed 16×16 distance
    // tables. At 100 TB this is the whole economics of ANN storage: the
    // corpus lives as (cell, 64-bit code) — 32× smaller than floats —
    // and a query reads 2/16ths of it, map-side, through one broadcast
    // hash join on the cell id (a cell-partitioned Layout write makes
    // that file-level skipping; here the probe set prunes hash-side).
    // Probe routing + distance tables are driver-built from the bounded
    // probe set (the ann_pq_adc collect discipline); corpus assignment
    // and scoring stay distributed. All-integer → hash-exact oracle.
    Q("ann_ivfpq", ivfPqOracle) { (s, d) =>
      val (ranked, _) = adcRanked(s, d)
      ranked.filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), col("adc2"))
        .orderBy("vec_id", "rnk")
    },

    // The refinement step standard IVF-PQ deployments put on top of ADC
    // (r20, VERDICT r19 item 3): the annbench sweep measured recall@3
    // FLAT at 0.707 across nprobe 1..16 at 200k vectors — cell routing
    // already reaches every true neighbor, ADC quantization error is
    // what misorders the top-3 — and exact re-rank of the top-8 ADC
    // candidates recovered recall 1.000 at 1/15th the brute wall (15×
    // faster). So: the SAME [[adcRanked]] code scan and ADC shortlist
    // as ann_ivfpq, kept to top-[[ivfPqRerank]] per probe
    // (WindowGroupLimit-bounded), then ONLY those R rows/probe are
    // re-scored with the exact integer L2 against the ×10⁶-quantized
    // float vectors. Scale shape: the re-score reads R×256 B per probe
    // via one broadcast hash join of the (probes × R)-row shortlist
    // against the cached vector frame — the corpus read stays the same
    // nprobe/nCells code scan; nothing data-sized is collected,
    // crossed, or re-shuffled.
    Q("ann_ivfpq_rerank", ivfPqRerankOracle) { (s, d) =>
      import s.implicits._
      val (ranked, probeVecs) = adcRanked(s, d)
      val (_, _, v) = pqFit(s, d) // memoized — the same cached frame
      val short = ranked
        .filter(col("rnk") <= ivfPqRerank)
        .join(broadcast(probeVecs.toDF("p_id", "pqv")),
          col("a_id") === col("p_id"))
        .select("a_id", "b_id", "pqv")
      val w2 = Window.partitionBy("a_id").orderBy(col("d2"), col("b_id"))
      broadcast(short)
        .join(v.select(col("vec_id"), col("qv").as("bqv")),
          col("b_id") === col("vec_id"))
        .select(col("a_id"), col("b_id"), expr(
          """aggregate(zip_with(bqv, pqv, (b, a) -> (b - a) * (b - a)),
            |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin).as("d2"))
        .withColumn("rnk", row_number().over(w2)).filter(col("rnk") <= 3)
        .select(col("a_id").as("vec_id"), col("b_id").as("neighbor_id"),
          col("rnk"), col("d2"))
        .orderBy("vec_id", "rnk")
    },
  )

  /** Shared probe-routing + ADC-scored candidate frame for the two
    * IVF-PQ keys — the Spark twin of [[ivfPqChainCtes]]'s shared `adc`
    * CTE + rank window: ONE builder, so the shortlist the re-rank
    * refines is always exactly the search key's candidate set (the same
    * no-drift argument the oracle side encodes). Returns the ranked
    * frame `(a_id, b_id, adc2, rnk)` — rnk by (adc2, b_id) per probe —
    * plus the driver-collected probe vectors (bounded: [[pqAdcProbes]],
    * the ann_pq_adc collect discipline). Corpus assignment and scoring
    * stay distributed; only the probe set and distance tables ride the
    * driver. */
  private def adcRanked(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[(Long, Seq[Long])]) = {
    import s.implicits._
    val (cent, _, v) = pqFit(s, d)
    val centMat = coarseFit(s, d, ivfPqCells).map(_._1)
    val corpus = ivfPqCorpus(s, d)
      .select(col("vec_id").as("b_id"), col("cluster"), col("codes"))
    val centMap = cent.map(t => ((t._1, t._2), t._3)).toMap
    val probeVecs = v.filter(col("vec_id") < pqAdcProbes).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val probeRows = probeVecs.flatMap { case (aId, qv) =>
      val cells = centMat.indices.map(c => (sqDistL(qv, centMat(c)), c))
        .sorted.take(ivfPqNProbe).map(_._2)
      val dt = pqDistTable(qv, centMap)
      cells.map(cid => (aId, cid, dt))
    }.toDF("a_id", "c_id", "dt")
    val w = Window.partitionBy("a_id").orderBy(col("adc2"), col("b_id"))
    (broadcast(probeRows)
      .join(corpus, expr("c_id = cluster AND a_id <> b_id"))
      .select(col("a_id"), col("b_id"), expr(adcLookupExpr).as("adc2"))
      .withColumn("rnk", row_number().over(w)), probeVecs)
  }

  /** Deterministic coarse-quantizer fit shared by `ann_ivf` /
    * `ann_ivfpq`: bottom-65,536 corpus-spread sample by the
    * decimal-Knuth hash of vec_id (planned as TakeOrdered — no global
    * sort), then [[graft.operators.CoarseQuantizer.fitInt]]'s local
    * integer Lloyd (16 centroids never justify distributed passes; the
    * CORPUS assignment stays distributed at the call sites). Returns the
    * centroid matrix zipped with cell ids.
    */
  /** Per-(vec_id) PQ code arrays from the per-(vec, sub) encode frame —
    * the compressed-corpus table both ADC consumers scan. */
  private def pqCodesFrame(encoded: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    encoded.groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, c))), p -> p.c)")
        .as("codes"))

  /** One probe's flattened 16×16 ADC distance table (sub-major,
    * code-minor — index sub*pqCodes + c) against the trained codebook. */
  private def pqDistTable(qv: Seq[Long], centMap: Map[(Int, Long), Seq[Long]])
      : IndexedSeq[Long] =
    for (sub <- 0 until pqSubspaces; c <- 0 until pqCodes) yield {
      val cv = centMap((sub, c.toLong))
      (0 until pqSubDim).map { i =>
        val df0 = qv(sub * pqSubDim + i) - cv(i); df0 * df0
      }.sum
    }

  /** The ADC scoring expression: sum of per-subspace table lookups over
    * the `codes` column against the broadcast `dt` column. ONE string
    * feeds both ADC consumers, so the dt index layout cannot drift
    * between them (it must match [[pqDistTable]] and the oracle twins). */
  private def adcLookupExpr: String =
    s"""aggregate(sequence(0, ${pqSubspaces - 1}), cast(0 as bigint),
       | (acc, sub) -> acc + element_at(dt, sub * $pqCodes + cast(element_at(codes, sub + 1) as int) + 1))""".stripMargin

  /** Exact integer squared L2 between a quantized vector and a centroid —
    * the one argmin kernel of the coarse-cell assignments. */
  private def sqDistL(qv: Seq[Long], cv: Array[Long]): Long = {
    var d2 = 0L; var j = 0
    while (j < cv.length) { val df0 = qv(j) - cv(j); d2 += df0 * df0; j += 1 }
    d2
  }

  /** The IVF-PQ index's compressed corpus table: (vec_id, cluster,
    * codes) — every vector's coarse cell (assigned in the SAME ×10⁶
    * integer space the fit trained in; strict < keeps the lowest cell on
    * ties = ORDER BY d2, c) plus its PQ code ids. Consumed by the
    * `ann_ivfpq` query and exposed package-private as the batch
    * reference the streaming index-append gate compares against. */
  private[graft] def ivfPqCorpus(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (_, encoded, v) = pqFit(s, d)
    val centMat = coarseFit(s, d, ivfPqCells).map(_._1)
    val cellU = udf((qv: Seq[Long]) => {
      var best = 0; var bestD = Long.MaxValue
      var c = 0
      while (c < centMat.length) {
        val d2 = sqDistL(qv, centMat(c))
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    })
    pqCodesFrame(encoded)
      .join(v.select(col("vec_id"), cellU(col("qv")).as("cluster")), "vec_id")
  }

  /** The frozen [[graft.operators.IvfPqModel]] from the session's
    * trained fits — the library-facing encoder for batch AND streaming
    * index appends (StreamingSpec gates encode parity with
    * [[ivfPqCorpus]]). */
  private[graft] def ivfPqModel(s: SparkSession, d: String)
      : graft.operators.IvfPqModel = {
    val (cent, _, _) = pqFit(s, d)
    val cells = coarseFit(s, d, ivfPqCells).map(_._1)
    graft.operators.IvfPqModel(cells,
      graft.operators.IvfPqIndex.codebookMatrix(cent, pqSubspaces))
  }

  private val coarseFitMemo = new graft.SessionMemo[(String, Int), Array[(Array[Long], Int)]]

  /** Observable fit-run counters — ScaleSpec pins that the DRIVER'S
    * alphabetical key order (ann_ivf → ann_ivfpq → ann_lsh_bucket →
    * ann_pq_adc → … → embedding_pq) trains each model exactly once per
    * session: wall-clock asserts are host-noise-flaky, a train count is
    * not. Test-only observability; never read on a query path. */
  private[graft] val coarseFitRuns = new java.util.concurrent.atomic.AtomicInteger
  private[graft] val pqFitRuns = new java.util.concurrent.atomic.AtomicInteger

  private def coarseFit(s: SparkSession, d: String, nClusters: Int)
      : Array[(Array[Long], Int)] =
    // session-memoized (graft.SessionMemo): ann_ivf and ann_ivfpq train
    // the identical deterministic quantizer — one sample collect + local
    // Lloyd per session, not one per caller
    coarseFitMemo.getOrElseUpdate(s, (d, nClusters)) { case (ss, (dd, k)) =>
      coarseFitRuns.incrementAndGet()
      graft.operators.IvfPqIndex
        .fitCells(Tables.embeddings(ss, dd).select("vec_id", "embedding"), k)
        .zipWithIndex
    }

  /** Session-keyed memo of [[pqFitImpl]]: ONE codebook training per
    * (session, dataset dir). The trainer's model state (the 1,024-long
    * codebook) lives on the driver, so the only way two keys can share
    * the ENCODE plan is to share the literal DataFrame object — ScalaUDF
    * plan equality is closure identity, so a re-built encode plan can
    * never hit the first caller's SQL-cache entry (the r12-documented
    * ann_pq_adc double-fit). Memoizing the triple gives the second
    * caller the identical frames: the training rounds never re-run and
    * the encode cache is found by object identity. After a session-level
    * `clearCache()` the frames lose their persistence but stay CORRECT
    * (they recompute lazily through lineage; the re-entry path below
    * re-pins them), and the fit itself — deterministic in (session, d) —
    * is never recomputed. Stopped sessions' entries are evicted by
    * [[graft.SessionMemo]] on the next access.
    */
  private val pqFitMemo = new graft.SessionMemo[String,
    (Seq[(Int, Long, Seq[Long])], org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]

  private def pqFit(s: SparkSession, d: String)
      : (Seq[(Int, Long, Seq[Long])], org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (cent, encoded, v) = pqFitMemo.getOrElseUpdate(s, d)(pqFitImpl)
    // a clearCache() between consumers dropped the persistence; re-pin so
    // the second key's scan is cache-fed again (idempotent when warm)
    graft.Caching.ensureCached(v)
    graft.Caching.ensureCached(encoded)
    (cent, encoded, v)
  }

  /** Delegates to the library trainer ([[graft.operators.IvfPqIndex
    * .fitDetailed]] — the Spark twin of [[pqFitCtes]]) on the fixture
    * embeddings with this module's geometry: the public fit path IS the
    * oracled path. Both PQ keys reach this through the [[pqFit]] memo,
    * so they always train the identical codebook AND share the
    * UDF-bearing encode plan (see the memo scaladoc). The trainer's
    * caches are deliberately NOT retired here — the returned frames are
    * the memo's to keep (pqFit re-pins them after a clearCache). */
  private def pqFitImpl(s: SparkSession, d: String)
      : (Seq[(Int, Long, Seq[Long])], org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    pqFitRuns.incrementAndGet()
    val f = graft.operators.IvfPqIndex.fitDetailed(
      Tables.embeddings(s, d).select("vec_id", "embedding"),
      pqSubspaces, pqSubDim, pqCodes, pqRounds)
    (f.cent, f.encoded, f.v)
  }

  /** DuckDB twin of the 3-round integer k-means: nested CTEs d/a/cl/cent
    * per Lloyd round, generated by the same loop count as the Spark side
    * so the twins cannot drift. `//` and `div` both truncate toward zero,
    * so the integer centroid means agree; `row_number ORDER BY d2, c`
    * mirrors `min(struct(d2, c))`. */
  private def kmeansOracle: String = {
    val iters = (1 to kmeansRounds).map { k =>
      s"""d$k AS (SELECT v.vec_id, ct.c,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> (v.qv[i] - ct.cv[i]) * (v.qv[i] - ct.cv[i]))) AS BIGINT) AS d2
         |  FROM v CROSS JOIN cent${k - 1} ct),
         |a$k AS (SELECT vec_id, c, d2 FROM (SELECT vec_id, c, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d$k) t
         |  WHERE rn = 1),
         |cl$k AS (SELECT a.c, u.pos, CAST(sum(u.x) // count(*) AS BIGINT) AS cve
         |  FROM a$k a JOIN u ON a.vec_id = u.vec_id
         |  GROUP BY a.c, u.pos),
         |cent$k AS (SELECT c, list(cve ORDER BY pos) AS cv FROM cl$k GROUP BY c)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |u AS (SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos FROM v),
       |cent0 AS (SELECT CAST(rn - 1 AS BIGINT) AS c, qv AS cv
       |  FROM (SELECT qv, row_number() OVER (ORDER BY vec_id) AS rn FROM v) t WHERE rn <= 4),
       |$iters
       |SELECT a$kmeansRounds.c, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(a$kmeansRounds.d2 AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS inertia,
       |  ck.cent_sum
       |FROM a$kmeansRounds JOIN (SELECT c, CAST(list_sum(cv) AS BIGINT) AS cent_sum FROM cent$kmeansRounds) ck
       |  ON a$kmeansRounds.c = ck.c
       |GROUP BY a$kmeansRounds.c, ck.cent_sum ORDER BY a$kmeansRounds.c""".stripMargin
  }

  /** PQ geometry: 64 dims = [[pqSubspaces]] × [[pqSubDim]]; [[pqCodes]]
    * codes per subspace, [[pqRounds]] integer-Lloyd rounds. One copy
    * feeds the Spark loop and the generated oracle. */
  // `final val` literals = compile-time constants: `all` above initializes
  // eagerly and bakes pqOracle into the Q BEFORE runtime val initializers
  // would run (the MinhashK trap — a plain val here is still 0 when the
  // oracle string is generated)
  private final val pqSubspaces = 16
  private final val pqSubDim = 4
  private final val pqCodes = 16
  private final val pqRounds = 3

  /** DuckDB twin of the product-quantization trainer: the kmeansOracle
    * d/a/cl/cent round chain, with the subspace index riding as DATA —
    * one CTE chain trains all [[pqSubspaces]] codebooks at once (the
    * centroid key is (sub, c)). Empty codes keep their previous centroid
    * (COALESCE left join, the ivfOracleSql discipline). `//` and `div`
    * both truncate toward zero, `row_number ORDER BY d2, c` mirrors
    * `min(struct(d2, c))` — the kmeans_iter parity argument verbatim.
    */
  /** Shared CTE chain `v … cent{pqRounds}, df, af`: quantize → subspace
    * slices → seeded codebook → [[pqRounds]] Lloyd rounds → per-vector
    * per-subspace code assignment `af(vec_id, sub, c, d2)`. One builder
    * feeds both `embedding_pq` and `ann_pq_adc`, so the two keys always
    * train the identical codebook. */
  private def pqFitCtes: String = {
    val iters = (1 to pqRounds).map { r =>
      s"""d$r AS (SELECT t.vec_id, t.sub, ct.c,
         |    CAST(list_sum(list_transform(generate_series(1, $pqSubDim),
         |      i -> (t.sv[i] - ct.cv[i]) * (t.sv[i] - ct.cv[i]))) AS BIGINT) AS d2
         |  FROM subv t JOIN cent${r - 1} ct ON ct.sub = t.sub),
         |a$r AS (SELECT vec_id, sub, c, d2 FROM (SELECT vec_id, sub, c, d2,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn FROM d$r) q
         |  WHERE rn = 1),
         |cl$r AS (SELECT a.sub, a.c, u.pos, CAST(sum(u.x) // count(*) AS BIGINT) AS cve
         |  FROM a$r a JOIN u ON u.vec_id = a.vec_id AND u.sub = a.sub
         |  GROUP BY a.sub, a.c, u.pos),
         |cent$r AS (SELECT p.sub, p.c, COALESCE(n.cv, p.cv) AS cv
         |  FROM cent${r - 1} p LEFT JOIN
         |    (SELECT sub, c, list(cve ORDER BY pos) AS cv FROM cl$r GROUP BY sub, c) n
         |    ON n.sub = p.sub AND n.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |subv AS (SELECT vec_id, sub,
       |    qv[sub * $pqSubDim + 1 : sub * $pqSubDim + $pqSubDim] AS sv
       |  FROM v CROSS JOIN (SELECT unnest(generate_series(0, ${pqSubspaces - 1})) AS sub) ss),
       |u AS (SELECT vec_id, sub, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
       |  FROM subv),
       |cent0 AS (SELECT sv.sub, CAST(t.rn - 1 AS BIGINT) AS c, sv.sv AS cv
       |  FROM (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM v
       |        QUALIFY rn <= $pqCodes) t
       |  JOIN subv sv ON sv.vec_id = t.vec_id),
       |$iters,
       |df AS (SELECT t.vec_id, t.sub, ct.c,
       |    CAST(list_sum(list_transform(generate_series(1, $pqSubDim),
       |      i -> (t.sv[i] - ct.cv[i]) * (t.sv[i] - ct.cv[i]))) AS BIGINT) AS d2
       |  FROM subv t JOIN cent$pqRounds ct ON ct.sub = t.sub),
       |af AS (SELECT vec_id, sub, c, d2 FROM (SELECT vec_id, sub, c, d2,
       |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c) AS rn FROM df) q
       |  WHERE rn = 1)""".stripMargin
  }

  private def pqOracle: String =
    s"""WITH $pqFitCtes
       |SELECT vec_id, array_to_string(list(c ORDER BY sub), ',') AS codes,
       |  CAST(sum(d2) AS BIGINT) AS err2
       |FROM af GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** DuckDB twin of ann_pq_adc: the shared fit/encode chain, then per
    * probe a flattened 16×16 distance table (sub-major, code-minor — index
    * sub*16+c+1), the corpus scored by pure table lookups, top-3 per
    * probe by (adc2, b_id). All exact integers. */
  private def pqAdcOracle: String =
    s"""WITH $pqFitCtes,
       |codesv AS (SELECT vec_id, list(c ORDER BY sub) AS codes FROM af GROUP BY vec_id),
       |pr AS (SELECT vec_id AS a_id, qv FROM v WHERE vec_id < $pqAdcProbes),
       |dt0 AS (SELECT p.a_id, ct.sub, ct.c,
       |    CAST(list_sum(list_transform(generate_series(1, $pqSubDim),
       |      i -> (p.qv[ct.sub * $pqSubDim + i] - ct.cv[i])
       |         * (p.qv[ct.sub * $pqSubDim + i] - ct.cv[i]))) AS BIGINT) AS d2
       |  FROM pr p CROSS JOIN cent$pqRounds ct),
       |dte AS (SELECT a_id, list(d2 ORDER BY sub, c) AS dt FROM dt0 GROUP BY a_id),
       |adc AS (SELECT d.a_id, cv.vec_id AS b_id,
       |    CAST(list_sum(list_transform(generate_series(0, ${pqSubspaces - 1}),
       |      sub -> d.dt[sub * $pqCodes + CAST(cv.codes[sub + 1] AS INTEGER) + 1])) AS BIGINT) AS adc2
       |  FROM dte d CROSS JOIN codesv cv WHERE cv.vec_id <> d.a_id)
       |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk, adc2
       |FROM (SELECT a_id, b_id, adc2,
       |    row_number() OVER (PARTITION BY a_id ORDER BY adc2, b_id) AS rnk FROM adc) r
       |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  private final val pqAdcProbes = 50

  /** IVF-PQ geometry: [[ivfPqCells]] coarse cells (= ann_ivf's 16),
    * [[ivfPqNProbe]] cells probed per query. `final val` for the same
    * object-initialization-order reason as the PQ constants above. */
  private final val ivfPqCells = 16
  private final val ivfPqNProbe = 2

  /** ADC-shortlist size the exact re-rank refines (r20). The 200k-vector
    * annbench sweep measured recall@3 FLAT at 0.707 across nprobe 1..16
    * (routing already reaches every true neighbor's cell; ADC
    * quantization error is what misorders the top-3) and re-ranking the
    * top-8 ADC candidates with exact L2 recovered recall 1.000 at
    * 1/15th the brute wall (15× faster) — so the recall knob is R, not
    * nprobe. */
  private final val ivfPqRerank = 8

  /** Shared DuckDB CTE chain for the two IVF-PQ twins, ending at
    * `adc(a_id, b_id, adc2)`: the shared PQ fit/encode chain
    * ([[pqFitCtes]]) plus an i-prefixed replay of [[ivfOracleSql]]'s
    * coarse-quantizer chain (same 65,536 hash-ordered sample, same 5
    * integer-Lloyd rounds with the COALESCE empty-cell discipline), then
    * candidates restricted to the probes' [[ivfPqNProbe]]-nearest cells'
    * members, scored by pure distance-table lookups. All exact integers,
    * generated from the same constants as the Spark side so the twins
    * cannot drift. ONE builder feeds both `ann_ivfpq` and
    * `ann_ivfpq_rerank`, so the shortlist the re-rank refines is always
    * exactly the search key's candidate set. */
  private def ivfPqChainCtes: String = {
    val iters = (1 to 5).map { r =>
      s"""id$r AS (SELECT s.vec_id, ct.c,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> (s.qv[i] - ct.cv[i]) * (s.qv[i] - ct.cv[i]))) AS BIGINT) AS d2
         |  FROM isamp s CROSS JOIN icent${r - 1} ct),
         |ia$r AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM id$r) t
         |  WHERE rn = 1),
         |icl$r AS (SELECT a.c, u.pos, CAST(sum(u.x) // count(*) AS BIGINT) AS cve
         |  FROM ia$r a JOIN isu u ON a.vec_id = u.vec_id
         |  GROUP BY a.c, u.pos),
         |icent$r AS (SELECT p.c, COALESCE(n.cv, p.cv) AS cv
         |  FROM icent${r - 1} p LEFT JOIN
         |    (SELECT c, list(cve ORDER BY pos) AS cv FROM icl$r GROUP BY c) n
         |    ON n.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""$pqFitCtes,
       |isamp AS (SELECT vec_id, qv, row_number() OVER (ORDER BY
       |    CAST(CAST(vec_id AS DECIMAL(19,0)) * 2654435761 % 4294967296 AS BIGINT), vec_id) AS rn
       |  FROM v QUALIFY rn <= 65536),
       |isu AS (SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos FROM isamp),
       |icent0 AS (SELECT CAST(rn - 1 AS BIGINT) AS c, qv AS cv FROM isamp WHERE rn <= $ivfPqCells),
       |$iters,
       |idall AS (SELECT vv.vec_id, ct.c,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (vv.qv[i] - ct.cv[i]) * (vv.qv[i] - ct.cv[i]))) AS BIGINT) AS d2
       |  FROM v vv CROSS JOIN icent5 ct),
       |iasg AS (SELECT vec_id, c FROM (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM idall) t
       |  WHERE rn = 1),
       |iprobes AS (SELECT vec_id AS a_id, c AS c_id FROM (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS crnk FROM idall
       |    WHERE vec_id < $pqAdcProbes) t WHERE crnk <= $ivfPqNProbe),
       |codesv AS (SELECT vec_id, list(c ORDER BY sub) AS codes FROM af GROUP BY vec_id),
       |pr AS (SELECT vec_id AS a_id, qv FROM v WHERE vec_id < $pqAdcProbes),
       |dt0 AS (SELECT p.a_id, ct.sub, ct.c,
       |    CAST(list_sum(list_transform(generate_series(1, $pqSubDim),
       |      i -> (p.qv[ct.sub * $pqSubDim + i] - ct.cv[i])
       |         * (p.qv[ct.sub * $pqSubDim + i] - ct.cv[i]))) AS BIGINT) AS d2
       |  FROM pr p CROSS JOIN cent$pqRounds ct),
       |dte AS (SELECT a_id, list(d2 ORDER BY sub, c) AS dt FROM dt0 GROUP BY a_id),
       |cand AS (SELECT p.a_id, b.vec_id AS b_id FROM iprobes p
       |  JOIN iasg b ON b.c = p.c_id AND b.vec_id <> p.a_id),
       |adc AS (SELECT c.a_id, c.b_id,
       |    CAST(list_sum(list_transform(generate_series(0, ${pqSubspaces - 1}),
       |      sub -> d.dt[sub * $pqCodes + CAST(cv.codes[sub + 1] AS INTEGER) + 1])) AS BIGINT) AS adc2
       |  FROM cand c JOIN dte d ON d.a_id = c.a_id JOIN codesv cv ON cv.vec_id = c.b_id)""".stripMargin
  }

  private def ivfPqOracle: String =
    s"""WITH $ivfPqChainCtes
       |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk, adc2
       |FROM (SELECT a_id, b_id, adc2,
       |    row_number() OVER (PARTITION BY a_id ORDER BY adc2, b_id) AS rnk FROM adc) r
       |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  /** DuckDB twin of ann_ivfpq_rerank: the shared [[ivfPqChainCtes]]
    * shortlist (top-[[ivfPqRerank]] per probe by ADC), re-scored with
    * the EXACT integer L2 against the ×10⁶-quantized vectors, top-3 by
    * (d2, b_id). All exact integers: |qv| ≲ 2×10⁶ so a 64-dim squared
    * L2 is ≤ 64·(4×10⁶)² ≈ 10¹⁵ ≪ int64. */
  private def ivfPqRerankOracle: String =
    s"""WITH $ivfPqChainCtes,
       |short AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
       |    row_number() OVER (PARTITION BY a_id ORDER BY adc2, b_id) AS rnk FROM adc) r
       |  WHERE rnk <= $ivfPqRerank),
       |ex AS (SELECT sh.a_id, sh.b_id,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (bv.qv[i] - pv.qv[i]) * (bv.qv[i] - pv.qv[i]))) AS BIGINT) AS d2
       |  FROM short sh JOIN v bv ON bv.vec_id = sh.b_id
       |  JOIN v pv ON pv.vec_id = sh.a_id)
       |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk, d2
       |FROM (SELECT a_id, b_id, d2,
       |    row_number() OVER (PARTITION BY a_id ORDER BY d2, b_id) AS rnk FROM ex) r
       |WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin

  /** DuckDB CTE producing `jpairs(da, db, jac)` — the capped
    * shared-shingle exact-Jaccard pair graph (jac >= 0.5), shared by the
    * dedup_ngram_jaccard and dedup_cluster oracles so both engines always
    * agree on the same pair set.
    */
  // a def, not a val: `all` above references it during object init, and a
  // forward val reference would still be null at that point.
  // pairStatsCte ends at `common(da, db, c)` + `sizes(doc_id, n)` so other
  // pair predicates (containment in Pipeline) share the identical gram
  // pipeline; jaccardCte adds the jac >= 0.5 pair filter on top.
  private[queries] def pairStatsCte: String =
    """toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
      |grams0 AS (
      |  SELECT DISTINCT doc_id, lang,
      |    unnest(list_transform(generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |  FROM toks),
      |freq AS (SELECT lang, g, count(*) AS df FROM grams0 GROUP BY lang, g),
      |grams AS (
      |  SELECT grams0.* FROM grams0
      |  JOIN freq ON grams0.lang = freq.lang AND grams0.g = freq.g
      |  WHERE freq.df <= 50),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |common AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY da, db)""".stripMargin

  private[queries] def jaccardCte: String =
    s"""$pairStatsCte,
      |jpairs AS (
      |  SELECT da, db, CAST(c AS DOUBLE) / (na.n + nb.n - c) AS jac
      |  FROM common JOIN sizes na ON da = na.doc_id JOIN sizes nb ON db = nb.doc_id
      |  WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.5)""".stripMargin

  /** Shared clustering preamble for `dedup_cluster` / `dedup_retention`:
    * capped-Jaccard pair graph -> connected components over the
    * pair-connected subgraph ONLY (every other doc is trivially its own
    * singleton cluster, handled by the callers' left join + coalesce).
    * Returns (p_id, lbl). The labels are memoized per cache entry of the
    * session's pair frame ([[EntryGraph]]), so the second consumer in a
    * session (dedup_retention after dedup_cluster) fires no job for them.
    */
  private def clusterLabels(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    pairKernel(s, d).entry.labels

  /** Shared LSH candidate generator for `ann_lsh_bucket` / `knn_label_ann`:
    * 32 deterministic ±1 hash-sign hyperplanes over ×10⁶-quantized integer
    * components (Multimodal.lshSigUdf — bit-exact cross-engine, so both
    * consumers oracle hash-exact since r12) -> banded buckets -> banded
    * equi-join of the bounded probe set (vec_id < probeLimit, broadcast)
    * against the full corpus. Returns one row per DISTINCT (probe,
    * candidate) pair as (a_id, b_id, b_lbl, sim) — never an all-pairs
    * product: a pair appears only if some band collides, and the join is
    * shuffle-parallel on (band index, band value) with the probe side
    * broadcast.
    *
    * The exact cosine is computed MAP-SIDE, in the broadcast join's output
    * projection, and the multi-band duplicates are then collapsed by an
    * aggregate on the 24-byte (a_id, b_id) key: a pair colliding in k
    * bands costs k cheap `dot_d` evaluations instead of shuffling two
    * 64-double vectors (~1 KB/row) through a distinct — at corpus scale
    * the exchange shrinks ~40× and compute stays where the data is.
    * min(sim) is the identity: every duplicate evaluates the identical
    * expression on identical inputs, so the collapsed value is THE value,
    * deterministically.
    */
  /** DuckDB twin of the dedup_simhash pipeline — generated from the same
    * bit/band constants and TextSim's shared gram-hash SQL so the twins
    * cannot drift. The bit-63 term is the MinValue literal (DuckDB
    * overflow-checks `1 << 63`), and the signature assembles by `|` of
    * disjoint masks for the same reason.
    */
  private def simhashOracleSql: String = {
    val svCols = (0 until 64).map { b =>
      val (src, off) = if (b < 32) ("h1", b) else ("h2", b - 32)
      s"sum(CASE WHEN (($src >> $off) & 1) = 1 THEN 1 ELSE -1 END) AS sv$b"
    }.mkString(",\n    ")
    val sigOr = (0 until 64).map { b =>
      val mask =
        if (b == 63) "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        else s"(CAST(1 AS BIGINT) << $b)"
      s"(CASE WHEN sv$b >= 0 THEN $mask ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |    FROM documents WHERE len(string_split(lower(text), ' ')) >= 3),
       |hws AS (SELECT doc_id, ${TextSim.wordHashSql} AS hw
       |  FROM toks),
       |grams AS (SELECT doc_id, unnest(${TextSim.gramFromWordsSql}) AS gh FROM hws),
       |mixed AS (SELECT doc_id, ${TextSim.intMixSql(101, "gh")} AS h1,
       |    ${TextSim.intMixSql(102, "gh")} AS h2 FROM grams),
       |sv AS (SELECT doc_id,
       |    $svCols
       |  FROM mixed GROUP BY doc_id),
       |sig AS (SELECT doc_id, ($sigOr) AS sig FROM sv),
       |bands AS (SELECT doc_id, sig, bi, (sig >> (bi * 8)) & 255 AS bv
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bi) bb),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS sig_a, b.sig AS sig_b
       |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT da, db, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8
       |ORDER BY da, db""".stripMargin
  }

  /** DuckDB twin of the r12 deterministic ann_ivf pipeline: hash-ordered
    * sample (decimal-Knuth of vec_id) → integer Lloyd (init = first 16 of
    * the sample order; d/a/cl CTEs per round with COALESCE keeping an
    * empty cluster's previous centroid, mirroring CoarseQuantizer.fitInt)
    * → exact-integer corpus assignment and probe ranking → double cosine
    * re-rank. Generated from the same k/round constants as the Spark
    * side so the twins cannot drift.
    */
  private def ivfOracleSql: String = {
    val k = 16
    val iters = (1 to 5).map { r =>
      s"""d$r AS (SELECT s.vec_id, ct.c,
         |    CAST(list_sum(list_transform(generate_series(1, 64),
         |      i -> (s.qv[i] - ct.cv[i]) * (s.qv[i] - ct.cv[i]))) AS BIGINT) AS d2
         |  FROM samp s CROSS JOIN cent${r - 1} ct),
         |a$r AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d$r) t
         |  WHERE rn = 1),
         |cl$r AS (SELECT a.c, u.pos, CAST(sum(u.x) // count(*) AS BIGINT) AS cve
         |  FROM a$r a JOIN u ON a.vec_id = u.vec_id
         |  GROUP BY a.c, u.pos),
         |cent$r AS (SELECT p.c, COALESCE(n.cv, p.cv) AS cv
         |  FROM cent${r - 1} p LEFT JOIN
         |    (SELECT c, list(cve ORDER BY pos) AS cv FROM cl$r GROUP BY c) n
         |    ON n.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv,
       |    CAST(CAST(vec_id AS DECIMAL(19,0)) * 2654435761 % 4294967296 AS BIGINT) AS hs
       |  FROM embeddings),
       |samp AS (SELECT vec_id, qv, row_number() OVER (ORDER BY hs, vec_id) AS rn
       |  FROM v QUALIFY rn <= 65536),
       |u AS (SELECT vec_id, unnest(qv) AS x, generate_subscripts(qv, 1) AS pos FROM samp),
       |cent0 AS (SELECT CAST(rn - 1 AS BIGINT) AS c, qv AS cv FROM samp WHERE rn <= $k),
       |$iters,
       |dall AS (SELECT vv.vec_id, ct.c,
       |    CAST(list_sum(list_transform(generate_series(1, 64),
       |      i -> (vv.qv[i] - ct.cv[i]) * (vv.qv[i] - ct.cv[i]))) AS BIGINT) AS d2
       |  FROM v vv CROSS JOIN cent5 ct),
       |asg AS (SELECT vec_id, c FROM (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM dall) t
       |  WHERE rn = 1),
       |probes AS (SELECT vec_id AS a_id, c AS c_id FROM (SELECT vec_id, c,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS crnk FROM dall
       |    WHERE vec_id < 50) t WHERE crnk <= 3),
       |cand AS (SELECT p.a_id, b.vec_id AS b_id FROM probes p
       |  JOIN asg b ON b.c = p.c_id AND b.vec_id <> p.a_id),
       |sims AS (SELECT cnd.a_id, cnd.b_id, ${TextSim.cosineSql("a", "b")} AS sim
       |  FROM cand cnd JOIN embeddings a ON a.vec_id = cnd.a_id
       |    JOIN embeddings b ON b.vec_id = cnd.b_id),
       |r AS (SELECT a_id, b_id, sim,
       |    row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rnk FROM sims)
       |SELECT a_id AS vec_id, b_id AS neighbor_id, CAST(rnk AS INT) AS rnk,
       |  CAST(floor(sim * 1000 + 0.5) AS BIGINT) AS sim_e3
       |FROM r WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin
  }

  /** DuckDB CTE twin of [[lshCandidates]] up to `sims(a_id, b_id, b_lbl,
    * sim)`: quantize → 32-plane hash-sign signature → banded buckets →
    * distinct candidate pairs (probe side vec_id < 50) → exact cosine.
    * Generated from the same (nBands, bandBits) the Spark side uses, so
    * the twins cannot drift; the signature arithmetic is
    * Multimodal.lshSigSql — integer-exact, bit-identical to lshSigUdf.
    */
  private def lshOracleCtes(nBands: Int, bandBits: Int): String = {
    val mask = (1 << bandBits) - 1
    s"""qq AS (SELECT vec_id, label, ${Multimodal.quantizeSql} AS qv FROM embeddings),
       |sg AS (SELECT vec_id, label, ${Multimodal.lshSigSql} AS sig FROM qq),
       |bands AS (SELECT vec_id, label, bi, (sig >> (bi * $bandBits)) & $mask AS bv
       |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${nBands - 1})) AS bi) bb),
       |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id, b.label AS b_lbl
       |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 50),
       |sims AS (SELECT c.a_id, c.b_id, c.b_lbl, ${TextSim.cosineSql("a", "b")} AS sim
       |  FROM cand c JOIN embeddings a ON a.vec_id = c.a_id
       |    JOIN embeddings b ON b.vec_id = c.b_id)""".stripMargin
  }

  private def lshCandidates(s: SparkSession, d: String, probeLimit: Int,
      nBands: Int = 8, bandBits: Int = 4): org.apache.spark.sql.DataFrame = {
    require(nBands * bandBits <= 32, "signature is 32 bits")
    graft.functions.DotProduct.register(s)
    val e = Tables.embeddings(s, d)
      .withColumn("sig", Multimodal.lshSigUdf(col("embedding")))
    val bands = e.select(col("vec_id"), col("embedding"), col("label"), col("sig"),
      explode(expr(s"array(${(0 until nBands).mkString(", ")})")).as("bi"))
      .withColumn("bv", expr(s"(shiftright(sig, bi * $bandBits)) & ${(1 << bandBits) - 1}"))
    val probes = TextSim.withVecNorm(bands.filter(col("vec_id") < probeLimit)
      .drop("label")
      .toDF("a_id", "embedding", "sig_a", "bi_a", "bv_a"), "a")
    val corpus = TextSim.withVecNorm(
      bands.toDF("b_id", "embedding", "b_lbl", "sig_b", "bi_b", "bv_b"), "b")
    // b_lbl is functionally dependent on b_id, so carrying it through the
    // pair-collapse aggregate does not change the candidate cardinality
    broadcast(probes)
      .join(corpus, expr("bi_a = bi_b AND bv_a = bv_b AND a_id <> b_id"))
      .select(col("a_id"), col("b_id"), col("b_lbl"),
        expr(s"${TextSim.dotExpr("a_d", "b_d")} / sqrt(a_n2 * b_n2)").as("sim"))
      .groupBy("a_id", "b_id", "b_lbl").agg(min("sim").as("sim"))
  }

  /** Shared gram kernel: per-doc DISTINCT xxhash64'd 3-gram shingles with
    * the df <= 50 skew cap applied and the per-doc rare-shingle set size
    * `n` riding along — (doc_id, lang, gh, n). Spark twin of the SQL
    * `pairStatsCte` prefix; consumed by `jaccardPairs` (jac >= 0.5) and
    * `Pipeline.dedup_containment` (containment >= 0.8).
    */
  private[graft] def gramTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(lower(col("text")), " ").as("w"))
    // shingles are xxhash64'd to int64 INSIDE the transform lambda, so the
    // ~20-char gram strings never leave the expression: the distinct, both
    // window counts, the persisted table, and both sides of the pair join
    // all carry 8-byte keys (r8 bench: the string-gram pipeline was 25.8 s
    // of the 107.6 s total and the source of a 4x run-to-run swing).
    // Semantics: exact-Jaccard only ever compares grams for EQUALITY, so a
    // result changes only on an intra-language 64-bit collision between two
    // DISTINCT grams — p ~ n_grams²/2^65, negligible at any corpus size
    // where per-doc distinct sets matter (and the df cap bounds the blast
    // radius of a collision to one merged df count).
    toks.repartition(s.sparkContext.defaultParallelism)
      .filter(size(col("w")) >= 3) // Spark sequence(1,0) DESCENDS (-> element_at(w,0) throws); DuckDB generate_series(1,0)=[] — drop short docs explicitly on both paths
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(w) - 2), i -> xxhash64(concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2))))")).as("gh"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("lang", "gh")))
      .filter(col("df") <= 50)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .select("doc_id", "lang", "gh", "n")
  }

  /** Shared pair statistics over the gram table: (da, db, c = shared
    * shingle count, na, nb = per-doc distinct-shingle sizes), a < b,
    * lang-blocked. NOT cached — each consumer filters to its own small
    * pair set. [[jaccardPairs]] caches THAT lazily and pins nothing else:
    * the self-join reads the gram shuffle once (the second side is a
    * `ReusedExchange`), so a gram pin would only add a job.
    * Pipeline.dedup_containment caches the gram table lazily with
    * [[graft.Caching.ensureCached]] and returns its pair plan unexecuted.
    * Returns (stats, grams).
    */
  private[queries] def pairStats(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val grams = gramTable(s, d)
    val a = grams.toDF("da", "lang_a", "gh", "na")
    val b = grams.toDF("db", "lang_b", "gh2", "nb")
    val stats = a.join(b, expr("gh = gh2 AND lang_a = lang_b AND da < db"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"),
        min("na").as("na"), min("nb").as("nb"))
    (stats, grams)
  }

  /** Spark twin of `jaccardCte`: (da, db, jac) with jac >= 0.5. Skew
    * guard: shingles appearing in > 50 docs of a language are dropped
    * BEFORE sizing and joining — at 100 TB one stop-word shingle would
    * otherwise make its join key quadratic and serialise a shuffle
    * partition; Jaccard is then over each doc's rare-shingle set.
    *
    * Shuffle shape (r7): the doc-frequency cap and the per-doc set size
    * are WINDOW counts over the gram table, not a groupBy + join-back and
    * a sizes aggregation + two joins — two fewer shuffles and two fewer
    * joins of the (large) gram table; `n` rides through the pair join so
    * the Jaccard needs no re-join.
    *
    * Cache contract: every call in one session returns the SAME frame
    * ([[PairKernel]]), persisted lazily, so no job runs here: the first
    * sink over it fills the cache and later consumers read it. Callers
    * retire it with `clearCache` (Verify/Bench) or `unpersist`.
    */
  private[queries] def jaccardPairs(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    pairKernel(s, d).pairs

  /** The pair graph's edges (da, db), for the consumers that left-join a
    * per-doc aggregate of them onto `documents` (graph_degree,
    * dedup_rate_by_source). Within the CC local-solve bound they are a
    * driver-local literal, so the planner sizes that join from real rows
    * and broadcasts the small side; the lazily cached pair frame has no
    * size until it is filled, and the join would shuffle `documents`.
    * Over the bound they are the cached pair frame itself.
    */
  private[queries] def pairEdges(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    pairKernel(s, d).entry.edges

  /** The pair-graph kernel of one (session, fixture dir): the pair frame,
    * built and analysed once, and what its consumers derived from the
    * cache entry it holds ([[EntryGraph]]). When that entry is gone
    * (`clearCache`, `unpersist`, memo eviction) the next call re-persists
    * the frame and drops what was derived, so it is recomputed from the
    * new entry. Like the model memos, it assumes the fixture dir does not
    * change under a live session. A case class, so that memo eviction
    * finds and unpersists `frame`.
    */
  private final case class PairKernel(frame: org.apache.spark.sql.DataFrame) {
    private var derived: Option[EntryGraph] = None

    def pairs: org.apache.spark.sql.DataFrame = synchronized {
      if (frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        derived = None
      graft.Caching.ensureCached(frame)
    }

    def entry: EntryGraph = synchronized {
      val jp = pairs
      derived.getOrElse { val g = new EntryGraph(jp); derived = Some(g); g }
    }
  }

  /** The edges and CC labels of one cache entry of the pair frame, from
    * ONE bounded collect of its edge list
    * ([[graft.operators.ConnectedComponents.collectBounded]]), which also
    * fills the entry if no sink has yet. Labels are endpoints-only: the
    * callers' left join + coalesce already makes every non-participant
    * doc its own singleton cluster, so on the (typical) local path they
    * come back as a driver-local literal with no attachment join and no
    * cache to fill (r13: two fewer shuffles and one fewer action per
    * consumer).
    */
  private final class EntryGraph(jp: org.apache.spark.sql.DataFrame) {
    private val ab = jp.select(col("da").as("a"), col("db").as("b"))
    private val collected = graft.operators.ConnectedComponents.collectBounded(ab)

    lazy val edges: org.apache.spark.sql.DataFrame = {
      val onFrame = jp.select("da", "db")
      collected.fold(onFrame)(rows => jp.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), onFrame.schema))
    }

    /** (p_id, lbl) over the pair endpoints. */
    lazy val labels: org.apache.spark.sql.DataFrame = collected
      .fold(graft.operators.ConnectedComponents.minLabelFromEdges(ab, localSolveMaxEdges = -1L))(
        graft.operators.ConnectedComponents.endpointLabels(ab, _))
      .withColumnRenamed("node", "p_id")
  }

  private val pairKernels = new graft.SessionMemo[String, PairKernel]

  private def pairKernel(s: SparkSession, d: String): PairKernel =
    pairKernels.getOrElseUpdate(s, d) { (s, d) =>
      val (stats, _) = pairStats(s, d)
      PairKernel(stats
        .filter(expr("cast(c as double) / (na + nb - c) >= 0.5"))
        .select(col("da"), col("db"),
          expr("cast(c as double) / (na + nb - c)").as("jac")))
    }
}
