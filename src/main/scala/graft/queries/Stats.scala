package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables}
import graft.functions.ExactRatio
import graft.functions.ExactRatio.{DuckF, Pearson, SparkF, duckCols, e6, sparkCols}

/** Round-9 statistics / distribution-diagnostics suite: the dataset-level
  * summaries a training-data pipeline computes to audit a corpus before
  * export — equi-depth histograms, robust (MAD) outlier screens, per-slice
  * distribution entropy and divergence, class rebalancing, and the
  * BPE-style pair-frequency pass a tokenizer trainer starts from.
  *
  * Parity rules as in Curation/Pipeline: measures snap to integer cents
  * (floor(x*100+0.5)) before any aggregate; medians run over integers so
  * every quantile midpoint is an exact half-integer (×2 restores an exact
  * BIGINT — no float comparison anywhere); ln-derived scores floor-scale
  * to ×10⁶ integers with spec-gated ulp margins; doubles appear only in
  * final presentation expressions with identical shape on both engines.
  */
object Stats {

  /** Equi-depth histogram of l_extendedprice with quantile boundaries.
    * Bin edges are the exact 1/8..7/8 quantiles and rows are assigned by
    * value comparison against the broadcast boundary row — NOT by a
    * global ntile window, which would plan a single-partition sort.
    * Exactness: values snap to integer cents, so every interpolated
    * quantile a + (b−a)·(m/8) is an exact multiple of 1/8 — ×8 restores
    * an exact BIGINT on both engines regardless of interpolation shape
    * (a+(b−a)f vs a(1−f)+bf agree exactly when all terms are
    * representable), and the BIGINT cast is unambiguous because the
    * double is exactly integer-valued. The assignment is map-side
    * (bin = 1 + Σ (8v > q8ᵏ), all-integer) and the per-bin aggregate is
    * combinable, so the whole op is two passes with no global sort; ties
    * at a boundary go left on both engines by the same strict inequality.
    * At 100 TB the exact percentile pass swaps for approx_percentile
    * without touching the assignment shape.
    */
  private val histogramEquidepth = Q("histogram_equidepth", {
    val q = (1 to 7).map(k =>
      s"CAST(quantile_cont(vi, ${k}.0/8.0) * 8 AS BIGINT) AS q$k").mkString(",\n      |    ")
    val b = (1 to 7).map(k =>
      s"(CASE WHEN 8 * vi > q$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS vi
       |    FROM lineitem),
       |bounds AS (SELECT $q FROM t)
       |SELECT 1 + $b AS bin,
       |  count(*) AS n,
       |  CAST(min(vi) AS DOUBLE) / 100 AS lo,
       |  CAST(max(vi) AS DOUBLE) / 100 AS hi,
       |  CAST(sum(CAST(vi AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_v
       |FROM t, bounds GROUP BY 1 ORDER BY bin""".stripMargin
  }) { (s, d) =>
    val t = Tables.lineitem(s, d)
      .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("vi"))
    // boundaries via the distributed order-statistic operator: built-in
    // exact percentile buffers a value->count map of the whole near-unique
    // column (583k distinct / 600k rows at sf0.1 — measured 11.3s for 7
    // cuts, and O(data) memory at 100 TB); ExactQuantiles is the sorted
    // range-partitioned shape with no O(distinct) buffer
    val q8 = graft.operators.ExactQuantiles.scaled(
      t, "vi", (1 to 7).map(_ / 8.0), 8)
    val assign = (1 to 7).map(k => s"(case when 8 * vi > ${q8(k - 1)}L then 1 else 0 end)")
      .mkString(" + ")
    t.withColumn("bin", expr(s"1 + $assign"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        expr("cast(min(vi) as double) / 100").as("lo"),
        expr("cast(max(vi) as double) / 100").as("hi"),
        expr(s"cast(${ExactRatio.bigSum(SparkF, "vi")} as double) / 100").as("sum_v"))
      .orderBy("bin")
  }

  /** Robust outlier screen: per-group median / MAD of l_extendedprice with
    * a 3×MAD fence, fully integer-exact. Cents ×2 makes the median an
    * exact BIGINT (quantile midpoints of integers are half-integers);
    * deviations |2v − med2| are integers, so the MAD doubles the same way
    * (m2 = 2×median of deviations) and the fence |v−med| > 3·MAD becomes
    * the pure-integer test 2·dev2 > 3·m2 — no float ever reaches a
    * comparison. Both medians come from the [[statsLevene]] /
    * agg_weighted_median cross-multiplied idiom: rows collapse through
    * ONE combinable count onto the (flag, cent) domain (the only O(data)
    * stage), med2 = min(vc | 2·cw ≥ tw) + min(vc | 2·cw ≥ tw+1) over the
    * cumulative-weight window, the deviation DOMAIN re-groups that table
    * (no second fact scan), and the MAD median repeats the window on it.
    * vs the previous two-pass ExactQuantiles shape this is one scan and
    * one action — no per-pass boundary-collect jobs, no join back to the
    * fact table (r16 verdict item 1; same-session head-to-head at sf0.1:
    * 2.53 s old vs 2.41 s new — the key is collapse-bound, not
    * window-bound: the (flag, cent) collapse alone measures 0.92 s
    * because cents are ~97% distinct at this SF). Partitioned windows
    * only (per flag); the cents domain is a CONSTANT w.r.t. data size
    * (l_extendedprice = qty(≤50) × retail price ⇒ ≲5.3M distinct cents),
    * so the per-flag window sort stays bounded at any scale while the
    * collapse keeps the only O(data) stage combinable.
    */
  private val outlierMad = Q("outlier_mad",
    s"""WITH b AS (SELECT l_returnflag AS flag,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS vi FROM lineitem),
       |dom AS (SELECT flag, vi, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY flag, vi),
       |cum AS (SELECT flag, vi, c,
       |    CAST(sum(c) OVER (PARTITION BY flag ORDER BY vi) AS BIGINT) AS cw,
       |    CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) AS tw FROM dom),
       |med AS (SELECT flag, vi, c, tw,
       |    (min(CASE WHEN 2 * cw >= tw THEN vi END) OVER (PARTITION BY flag)
       |      + min(CASE WHEN 2 * cw >= tw + 1 THEN vi END) OVER (PARTITION BY flag)) AS med2
       |  FROM cum),
       |ddom AS (SELECT flag, tw, med2, abs(2 * vi - med2) AS dev2,
       |    CAST(sum(c) AS BIGINT) AS c
       |  FROM med GROUP BY flag, tw, med2, dev2),
       |dcum AS (SELECT flag, tw, med2, dev2, c,
       |    CAST(sum(c) OVER (PARTITION BY flag ORDER BY dev2) AS BIGINT) AS cw FROM ddom),
       |m AS (SELECT flag, tw, med2, dev2, c,
       |    (min(CASE WHEN 2 * cw >= tw THEN dev2 END) OVER (PARTITION BY flag)
       |      + min(CASE WHEN 2 * cw >= tw + 1 THEN dev2 END) OVER (PARTITION BY flag)) AS m2
       |  FROM dcum)
       |SELECT flag, max(tw) AS n,
       |  CAST(max(med2) AS DOUBLE) / 200 AS med_price,
       |  CAST(max(m2) AS DOUBLE) / 400 AS mad_price,
       |  CAST(sum(CASE WHEN 2 * dev2 > 3 * m2 THEN c ELSE 0 END) AS BIGINT) AS n_out
       |FROM m GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    val dom = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("vi"))
      .groupBy("flag", "vi").agg(count(lit(1)).as("c"))
    val perF = Window.partitionBy("flag")
    val med = dom
      .withColumn("cw", sum("c").over(perF.orderBy("vi")))
      .withColumn("tw", sum("c").over(perF))
      .withColumn("med2",
        min(when(expr("2 * cw >= tw"), col("vi"))).over(perF) +
          min(when(expr("2 * cw >= tw + 1"), col("vi"))).over(perF))
    val ddom = med
      .groupBy(col("flag"), col("tw"), col("med2"),
        expr("abs(2 * vi - med2)").as("dev2"))
      .agg(sum("c").as("c"))
    val m = ddom
      .withColumn("cw", sum("c").over(perF.orderBy("dev2")))
      .withColumn("m2",
        min(when(expr("2 * cw >= tw"), col("dev2"))).over(perF) +
          min(when(expr("2 * cw >= tw + 1"), col("dev2"))).over(perF))
    m.groupBy("flag")
      .agg(max("tw").as("n"),
        expr("cast(max(med2) as double) / 200").as("med_price"),
        expr("cast(max(m2) as double) / 400").as("mad_price"),
        sum(expr("case when 2 * dev2 > 3 * m2 then c else 0 end")).as("n_out"))
      .orderBy("flag")
  }

  /** Shannon entropy of each source's language distribution — the slice-
    * level mixedness audit a curation pipeline runs before sampling. Each
    * (source, lang) share's log-probability floor-scales to an exact ×10⁶
    * integer (ulp margins gated in StatsSpec), the per-source Σ c·lp is an
    * exact BIGINT sum, and only the final −Σ/(t·10⁶) divides in double.
    * One combinable aggregate to the |source × lang|-sized table, one to
    * |source|; zero row-level shuffle beyond those.
    */
  private val colEntropy = Q("col_entropy",
    s"""WITH c AS (SELECT source, lang, count(*) AS c FROM documents
       |    GROUP BY source, lang),
       |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS t, count(*) AS n_langs
       |  FROM c GROUP BY source),
       |lp AS (SELECT c.source, c.c,
       |    CAST(floor(ln(CAST(c.c AS DOUBLE) / CAST(t.t AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lp_e6
       |  FROM c JOIN t ON c.source = t.source)
       |SELECT t.source, t.n_langs, t.t AS n_docs,
       |  -CAST(sum(c * lp_e6) AS DOUBLE)
       |    / (CAST(t.t AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS entropy
       |FROM lp JOIN t ON lp.source = t.source
       |GROUP BY t.source, t.n_langs, t.t ORDER BY t.source""".stripMargin) { (s, d) =>
    // per-source totals as windows over the bounded (source, lang) cell
    // domain — the kl_divergence/mutual_info discipline (r17: the old
    // aggregate-and-broadcast-back marginal re-scanned documents; 2
    // scans -> 1)
    val c = Tables.documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("t", sum("c").over(Window.partitionBy("source")))
      .withColumn("n_langs", count(lit(1)).over(Window.partitionBy("source")))
    c.withColumn("lp_e6", expr(
        "cast(floor(ln(cast(c as double) / cast(t as double)) * 1000000.0d + 0.5d) as bigint)"))
      .groupBy("source", "n_langs", "t")
      // decimal-before-multiply: DuckDB computes Σ c·lp in HUGEINT; a
      // LongType product wraps past 9.2e18 (c ~1e12 × lp_e6 ~4e7 exceeds
      // it), so widen one operand — decimal(38,0) stays exact to 38 digits
      .agg(sum(expr("cast(c as decimal(19,0)) * lp_e6")).as("slp"))
      .select(col("source"), col("n_langs"), col("t").as("n_docs"),
        expr("-cast(slp as double) / (cast(t as double) * 1000000.0d)").as("entropy"))
      .orderBy("source")
  }

  /** KL divergence of each source's language distribution from the corpus
    * distribution — the domain-shift score that flags a slice whose mix
    * diverges from the whole. Same exact-integer discipline as
    * [[colEntropy]]: the per-(source,lang) log-ratio
    * ln((c_sl·t_g)/(t_s·c_gl)) — one double division of exact BIGINT
    * products, identical shape both engines — floor-scales to ×10⁶, the
    * Σ c·lr is exact, and the final divide is presentation-only. The
    * corpus lang table (≤|langs| rows) and per-source totals broadcast.
    */
  private val klDivergence = Q("kl_divergence",
    s"""WITH c AS (SELECT source, lang, count(*) AS c FROM documents
       |    GROUP BY source, lang),
       |ts AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM c GROUP BY source),
       |g AS (SELECT lang, sum(c) AS cg FROM c GROUP BY lang),
       |tg AS (SELECT sum(cg) AS tg FROM g),
       |lr AS (SELECT c.source, c.c,
       |    CAST(floor(ln(CAST(c.c * tg.tg AS DOUBLE) / CAST(ts.t * g.cg AS DOUBLE))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lr_e6
       |  FROM c JOIN ts ON c.source = ts.source
       |         JOIN g ON c.lang = g.lang CROSS JOIN tg)
       |SELECT ts.source, ts.t AS n_docs,
       |  CAST(sum(c * lr_e6) AS DOUBLE)
       |    / (CAST(ts.t AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS kl
       |FROM lr JOIN ts ON lr.source = ts.source
       |GROUP BY ts.source, ts.t ORDER BY ts.source""".stripMargin) { (s, d) =>
    // marginals as WINDOW columns over the cells table — the
    // stats_mutual_info discipline (r17: the old broadcast-joined
    // ts/g/tg marginal tables were 3 extra consumers of the cells
    // aggregate, re-scanning documents 4×; the windows ride the one
    // collapsed |sources|×|langs| domain, so the fact table is read
    // once). The partition-less tg window is on that bounded cell
    // domain — PlansSpec-allowlisted like mutual_info's nv.
    val c = Tables.documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("t", sum("c").over(Window.partitionBy("source")))
      .withColumn("cg", sum("c").over(Window.partitionBy("lang")))
      .withColumn("tg", sum("c").over(Window.partitionBy()))
    c // decimal-before-multiply: the oracle's c·tg and t·cg are exact in
      // HUGEINT; LongType products wrap once corpus counts pass ~3e9×3e9,
      // so widen one operand per product (exact to 38 digits, identical
      // double after the cast)
      .withColumn("lr_e6", expr(
        "cast(floor(ln(cast(cast(c as decimal(19,0)) * tg as double) / cast(cast(t as decimal(19,0)) * cg as double)) * 1000000.0d + 0.5d) as bigint)"))
      .groupBy("source", "t")
      .agg(sum(expr("cast(c as decimal(19,0)) * lr_e6")).as("slr"))
      .select(col("source"), col("t").as("n_docs"),
        expr("cast(slr as double) / (cast(t as double) * 1000000.0d)").as("kl"))
      .orderBy("source")
  }

  /** Class rebalancing: downsample every embedding label to the minority-
    * class count, keeping the lowest vec_ids — the deterministic variant
    * of balanced-class sampling for training export. The min count is a
    * one-row broadcast; selection is a per-label row_number window
    * (partitioned on the class key — at real cardinalities each class
    * sorts independently; for huge classes the same cut is expressible as
    * a per-class TakeOrdered). Output pins the selection with an exact
    * id-sum checksum, so the oracle verifies WHICH rows were kept, not
    * just how many.
    */
  private val classRebalance = Q("class_rebalance",
    s"""WITH n AS (SELECT label, count(*) AS n_orig FROM embeddings GROUP BY label),
       |m AS (SELECT min(n_orig) AS m FROM n),
       |r AS (SELECT label, vec_id,
       |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
       |  FROM embeddings)
       |SELECT n.label, n.n_orig, m.m AS n_kept,
       |  CAST((SELECT sum(vec_id) FROM r
       |    WHERE r.label = n.label AND r.rn <= m.m) AS BIGINT) AS kept_id_sum
       |FROM n, m ORDER BY n.label""".stripMargin) { (s, d) =>
    // ONE window pass computes rank and class size together (same label
    // exchange) over a 2-int-column projection; the min-class scalar and
    // the final aggregate both read that one label exchange, which Spark
    // reuses, so no cache is needed — the old n/m/kept/join shape
    // re-scanned embeddings 4× (r17 scan audit); the embedding vectors
    // themselves never enter the projection
    val lbl = Window.partitionBy("label")
    val w = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"))
      .withColumn("rn", row_number().over(lbl.orderBy("vec_id")))
      .withColumn("n_orig", count(lit(1)).over(lbl))
    val m = w.filter(col("rn") === 1).agg(min("n_orig").as("m"))
    w.crossJoin(broadcast(m))
      .groupBy("label")
      .agg(max("n_orig").as("n_orig"), max("m").as("n_kept"),
        sum(when(col("rn") <= col("m"), col("vec_id"))).as("kept_id_sum"))
      .select(col("label"), col("n_orig"), col("n_kept"), col("kept_id_sum"))
      .orderBy("label")
  }

  /** BPE-style adjacent-pair frequency pass: the character-bigram counts
    * over the token stream that a byte-pair-encoding trainer's first
    * merge iteration ranks. Token explode and pair explode are both
    * map-only (sequence + substring — no UDF); the pair aggregate is
    * combinable to a charset²-bounded table, and the top-50 cut plans as
    * TakeOrderedAndProject under the total (cnt DESC, pair) order — no
    * global sort of the pair table, no window.
    */
  private val bpePairCounts = Q("bpe_pair_counts",
    s"""WITH toks AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM
       |    (SELECT unnest(string_split(lower(text), ' ')) AS tok
       |     FROM documents) raw GROUP BY tok),
       |pairs AS (SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair, c
       |  FROM (SELECT tok, c, unnest(generate_series(1, length(tok) - 1)) AS i
       |        FROM toks WHERE length(tok) >= 2) t)
       |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM pairs
       |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
    // vocabulary reshape (r12, as bpe_apply_merge/bpe_train): pair counts
    // are count-weighted sums over the aggregated vocab — the explode
    // volume is the dictionary, not the corpus
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"),
        col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(50)
  }

  /** The BPE trainer's SECOND iteration: rank the winning pair from the
    * first pass (cnt DESC, pair — deterministic), apply the merge to the
    * token stream, and recount adjacent symbol pairs over the merged
    * sequences — the step that makes byte-pair encoding iterative.
    * The merge applies via `replace(tok, pair, chr(1))`: left-to-right
    * non-overlapping on both engines (the greedy BPE application order),
    * with the control char standing in for the merged symbol so adjacent
    * 2-char windows over the replaced string ARE the new symbol pairs;
    * the sentinel expands back to the merged pair in the output. Shape
    * (r12, the bpe_train vocabulary reshape): ONE corpus aggregation into
    * the (token, count) vocab, then both pair passes are vocab-bounded
    * count-weighted explodes into combinable aggregates; the winning pair
    * is model state (ONE row, broadcast); top-50 plans as
    * TakeOrderedAndProject. The merged-symbol alphabet stays
    * charset²-bounded, so the recount table is bounded forever.
    */
  private val bpeApplyMerge = Q("bpe_apply_merge",
    s"""WITH toks AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM
       |    (SELECT unnest(string_split(lower(text), ' ')) AS tok
       |     FROM documents) raw GROUP BY tok),
       |p1 AS (SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair, c
       |  FROM (SELECT tok, c, unnest(generate_series(1, length(tok) - 1)) AS i
       |        FROM toks WHERE length(tok) >= 2) t),
       |top1 AS (SELECT pair FROM p1 GROUP BY pair
       |  ORDER BY sum(c) DESC, pair LIMIT 1),
       |rep AS (SELECT replace(tok, (SELECT pair FROM top1), chr(1)) AS r, c
       |  FROM toks),
       |p2 AS (SELECT replace(substr(r, CAST(i AS INTEGER), 2), chr(1),
       |    (SELECT pair FROM top1)) AS pair, c
       |  FROM (SELECT r, c, unnest(generate_series(1, length(r) - 1)) AS i
       |        FROM rep WHERE length(r) >= 2) t)
       |SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM p2
       |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin) { (s, d) =>
    // bpe_train's vocabulary reshape (r12): aggregate the token stream
    // ONCE, then both pair passes and the merge run over the vocab table
    // with count-weighted sums — identical results (the fresh sentinel
    // makes the replace injective), one corpus scan instead of three
    // (raw-stream form 1.9-2.2 s at sf0.1; this shape 0.5-0.7 s isolated)
    val toks = Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val top1 = toks.filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"),
        col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(1).select("pair")
    toks.crossJoin(broadcast(top1))
      .select(col("pair"), expr("replace(tok, pair, char(1))").as("r"), col("c"))
      .filter(length(col("r")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(r) - 1), i -> replace(substring(r, i, 2), char(1), pair))"))
        .as("pair"), col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(50)
  }

  /** Number of bpe_train merge rounds; one copy feeds the Spark loop, the
    * generated oracle CTE chain, and the sentinel-expansion depth. */
  private val BpeRounds = 6

  /** DuckDB twin of the bpe_train loop, generated as a linear CTE chain
    * from the same [[BpeRounds]] constant: per round k — `p_k` adjacent
    * pairs over token layer k−1, `w_k` the (cnt DESC, pair) argmax, `t_k`
    * the layer with the winner collapsed to sentinel chr(k), and `e_k` the
    * winner expanded back to readable text by substituting the previous
    * rounds' expansions (each `e_j` is already sentinel-free, so one
    * replace per earlier round suffices).
    */
  private def bpeTrainOracle: String = {
    val ctes = new StringBuilder(
      """t0 AS (SELECT r, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS r
        |        FROM documents) raw GROUP BY r)""".stripMargin)
    for (k <- 1 to BpeRounds) {
      ctes ++= s""",
        |p$k AS (SELECT substr(r, CAST(i AS INTEGER), 2) AS pair, c
        |  FROM (SELECT r, c, unnest(generate_series(1, length(r) - 1)) AS i
        |        FROM t${k - 1} WHERE length(r) >= 2) x$k),
        |w$k AS (SELECT pair, CAST(sum(c) AS BIGINT) AS cnt FROM p$k
        |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
        |t$k AS (SELECT replace(r, (SELECT pair FROM w$k), chr($k)) AS r, c FROM t${k - 1})""".stripMargin
      val exp = (k - 1 to 1 by -1)
        .foldLeft(s"w$k.pair")((acc, j) => s"replace($acc, chr($j), e$j.ex)")
      val from = (s"w$k" +: (1 until k).map(j => s"e$j")).mkString(", ")
      ctes ++= s""",
        |e$k AS (SELECT $exp AS ex FROM $from)""".stripMargin
    }
    val selects = (1 to BpeRounds)
      .map(k => s"SELECT $k AS merge_idx, e$k.ex AS pair, w$k.cnt AS cnt FROM w$k, e$k")
      .mkString("\nUNION ALL ")
    s"WITH $ctes\n$selects\nORDER BY merge_idx"
  }

  /** The full iterative BPE trainer ([[BpeRounds]] merge rounds) —
    * `bpe_pair_counts` is its first ranking pass and `bpe_apply_merge` its
    * first merge+recount; this runs the whole loop and emits the learned
    * merge table, THE tokenizer-training artifact of an LLM data pipeline.
    * Per round: rank adjacent symbol pairs over the current token layer
    * (cnt DESC, pair — deterministic), collapse the winner to a one-byte
    * sentinel chr(round) via left-to-right non-overlapping replace (the
    * greedy BPE application order, as in bpe_apply_merge), recount on the
    * merged layer. Output rows expand sentinels back to readable merges.
    *
    * Scale shape (the real-world trainer shape, plus the kmeans_iter
    * model-state discipline): the corpus is aggregated ONCE into the
    * (token, count) vocabulary table, and every merge round runs over
    * that VOCAB-BOUNDED layer with pair counts as weighted sums — at
    * 100 TB that is one stream aggregation and then 6 rounds over a
    * dictionary, not 6 corpus scans (iterating the raw stream measured
    * 4.96 s at sf0.1 vs 1.7-1.9 s steady for this shape — and the gap is
    * the whole corpus size at scale). The per-round replace map is INJECTIVE
    * (each round's sentinel is fresh, so replacing it back recovers the
    * pre-image uniquely), hence distinct tokens never collide and no
    * re-grouping is needed between rounds. Model state crossing the
    * driver per round is ONE (pair, cnt) row — the TakeOrdered argmax —
    * baked into the next round's replace as a literal so every round is
    * one map-only pass over the CACHED previous layer, not a lineage
    * re-executing all prior rounds. Cache ownership per Caching's
    * contract: the operator retires its own layers before returning.
    */
  private val bpeTrain = Q("bpe_train", bpeTrainOracle) { (s, d) =>
    var layer = graft.Caching.ensureCached(Tables.documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("r"))
      .groupBy("r").agg(count(lit(1)).as("c")))
    val layers = collection.mutable.ArrayBuffer(layer)
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (k <- 1 to BpeRounds) {
      val winnerDf = layer.filter(length(col("r")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(r) - 1), i -> substring(r, i, 2))")).as("pair"),
          col("c"))
        .groupBy("pair").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
      val winner = winnerDf.collect()
      // round plan (vocabulary-layer pair agg + argmax) for the PLANS.md
      // iterative-family evidence; no-op unless the capture conf is set
      if (k == 1) graft.plans.PlanProbe.capture("bpe_round", winnerDf)
      // a corpus whose every token collapses below 2 symbols leaves no
      // pair to merge — fail with the cause rather than an index error
      // (the oracle's NULL-subquery replace would quietly no-op instead)
      require(winner.nonEmpty,
        s"bpe_train: no mergeable symbol pair left at round $k")
      val w = winner(0)
      merges += ((k, w.getString(0), w.getLong(1)))
      // literal via lit(), not SQL interpolation: the winning pair can
      // contain earlier rounds' sentinel control bytes
      if (k < BpeRounds) {
        layer = graft.Caching.ensureCached(layer.select(
          replace(col("r"), lit(w.getString(0)), lit(k.toChar.toString)).as("r"),
          col("c")))
        layers += layer
      }
    }
    // the collected merge table is the whole output; no returned plan
    // reads the token layers, so the operator retires its own caches
    // (Caching's intermediate-ownership rule) instead of leaning on the
    // session-level clearCache
    layers.foreach(_.unpersist(blocking = false))
    // expand sentinels newest-first; each expansion is already
    // sentinel-free, so one substitution per earlier round suffices
    val expanded = Array.ofDim[String](BpeRounds + 1)
    for (k <- 1 to BpeRounds)
      expanded(k) = (k - 1 to 1 by -1).foldLeft(merges(k - 1)._2)(
        (acc, j) => acc.replace(j.toChar.toString, expanded(j)))
    import s.implicits._
    merges.toSeq.map { case (k, _, cnt) => (k, expanded(k), cnt) }
      .toDF("merge_idx", "pair", "cnt")
      .orderBy("merge_idx")
  }

  /** Token co-occurrence PMI: pointwise mutual information
    * ln(c_ab·N / (c_a·c_b)) for the top-50 co-occurring token pairs —
    * the collocation detector ("new york" vs chance) a corpus pipeline
    * runs before phrase mining. Document-level co-occurrence on the
    * per-doc DISTINCT sorted vocabulary: the pair explosion is bounded
    * by per-doc vocab², never corpus size (the basket_pairs discipline),
    * and singles/doc-count sides are vocab-bounded broadcasts. The rank
    * is the exact integer (cab DESC, a, b) order — no double decides the
    * cut; PMI itself is one ln over exact decimal products,
    * floor-scaled to ×10⁶ (margins spec-gated).
    */
  private val tokenPmi = Q("token_pmi",
    s"""WITH dt AS (SELECT doc_id,
       |    list_sort(list_distinct(string_split(lower(text), ' '))) AS ts
       |  FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM dt),
       |singles AS (SELECT t, CAST(count(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(ts) AS t FROM dt) u GROUP BY t),
       |ix AS (SELECT ts, unnest(generate_series(1, len(ts))) AS i FROM dt),
       |pairs AS (SELECT ts[CAST(i AS INTEGER)] AS a, ts[CAST(j AS INTEGER)] AS b
       |  FROM (SELECT ts, i, unnest(generate_series(CAST(i AS INTEGER) + 1, len(ts))) AS j
       |        FROM ix) t2),
       |cp AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM pairs GROUP BY a, b)
       |SELECT a, b, cab,
       |  CAST(floor(ln(CAST(CAST(cab AS DECIMAL(19,0)) * n_docs AS DOUBLE)
       |             / CAST(CAST(sa.c1 AS DECIMAL(19,0)) * sb.c1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS pmi_e6
       |FROM cp JOIN singles sa ON cp.a = sa.t JOIN singles sb ON cp.b = sb.t
       |CROSS JOIN n
       |ORDER BY cab DESC, a, b LIMIT 50""".stripMargin) { (s, d) =>
    // lazily cached deliberately (re-tested r21): persisting and counting
    // dt and singles up front measured SLOWER isolated (2.12 s vs 1.82 s
    // median) — the two count jobs serialize ahead of the sink, while the
    // lazy cache is filled by the first consumer's stage
    val dt = graft.Caching.ensureCached(Tables.documents(s, d)
      .select(col("doc_id"),
        expr("array_sort(array_distinct(split(lower(text), ' ')))").as("ts")))
    val n = dt.agg(count(lit(1)).as("n_docs"))
    val singles = dt.select(explode(col("ts")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    dt.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ts) - 1),
          |  i -> transform(sequence(i + 1, size(ts)),
          |    j -> struct(element_at(ts, i) as a, element_at(ts, j) as b))))""".stripMargin))
        .as("p"))
      .select(col("p.a"), col("p.b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .join(broadcast(singles.select(col("t").as("a"), col("c1").as("ca"))), "a")
      .join(broadcast(singles.select(col("t").as("b"), col("c1").as("cb"))), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("cab"),
        expr("cast(floor(ln(cast(cast(cab as decimal(19,0)) * n_docs as double)" +
          " / cast(cast(ca as decimal(19,0)) * cb as double)) * 1000000 + 0.5) as bigint)")
          .as("pmi_e6"))
      .orderBy(col("cab").desc, col("a"), col("b"))
      .limit(50)
  }

  /** Octile winsorization: clip l_extendedprice to the per-group 1/8 and
    * 7/8 quantiles and report clip counts + the exact winsorized sum —
    * the standard heavy-tail preprocessor. Cut points are deliberately
    * OCTILES, not the textbook p05/p95: dyadic positions make every
    * interpolated boundary ×8 an exact BIGINT on both engines, while
    * p=0.05 is not binary-representable and its interpolation arithmetic
    * can diverge by 1 ulp between engines — non-dyadic cuts belong to
    * the approx_percentile path. Boundaries come from the grouped
    * [[graft.operators.ExactQuantiles]]; clipping and counting are
    * integer comparisons (8·v vs q8); sums accumulate clipped CENTS in
    * DECIMAL and divide once at presentation.
    */
  private val scaleWinsorize = Q("scale_winsorize",
    s"""WITH t AS (SELECT l_returnflag AS flag,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS vi FROM lineitem),
       |b AS (SELECT flag,
       |    CAST(quantile_cont(vi, 1.0/8.0) * 8 AS BIGINT) AS lo8,
       |    CAST(quantile_cont(vi, 7.0/8.0) * 8 AS BIGINT) AS hi8
       |  FROM t GROUP BY flag)
       |SELECT t.flag, count(*) AS n,
       |  CAST(sum(CASE WHEN 8 * vi < lo8 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       |  CAST(sum(CASE WHEN 8 * vi > hi8 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       |  CAST(sum(CAST(CASE WHEN 8 * vi < lo8 THEN lo8
       |    WHEN 8 * vi > hi8 THEN hi8 ELSE 8 * vi END AS DECIMAL(38,0))) AS DOUBLE)
       |    / 800 AS winsorized_sum
       |FROM t JOIN b ON t.flag = b.flag
       |GROUP BY t.flag ORDER BY t.flag""".stripMargin) { (s, d) =>
    import s.implicits._
    val t = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("vi"))
    val b = graft.operators.ExactQuantiles
      .groupedScaled(t, "flag", "vi", Seq(1.0 / 8, 7.0 / 8), 8)
      .map { case (g, qs) => (g, qs(0), qs(1)) }.toSeq.toDF("flag", "lo8", "hi8")
    t.join(broadcast(b), "flag")
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        sum(expr("case when 8 * vi < lo8 then 1 else 0 end")).as("n_clip_lo"),
        sum(expr("case when 8 * vi > hi8 then 1 else 0 end")).as("n_clip_hi"),
        sum(expr("""cast(case when 8 * vi < lo8 then lo8
                    when 8 * vi > hi8 then hi8 else 8 * vi end as decimal(38,0))"""))
          .as("ws8"))
      .select(col("flag"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        expr("cast(ws8 as double) / 800").as("winsorized_sum"))
      .orderBy("flag")
  }

  /** Daily-volume anomaly screen per event type: days whose event count
    * deviates from the type's mean by more than 2σ. The test runs in
    * EXACT integer moments — (c·n − S)² > 4·(n·Q − S²) is the z>2 rule
    * with both sides multiplied by n², so no σ, sqrt or double ever
    * reaches the comparison. Day = integer µs division (UTC by
    * construction; sign parity VERIFIED: DuckDB's `//` on BIGINT
    * truncates toward zero, same as Spark's `div` — −100//24 = −4 on
    * both — so even pre-epoch timestamps bucket identically). Two
    * combinable aggregates: events → (type, day) counts (|types|·|days|
    * rows), then per-type moments broadcast back.
    */
  private val eventsAnomalyDays = Q("events_anomaly_days",
    s"""WITH dc AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
       |    count(*) AS c
       |  FROM events GROUP BY event_type, day_idx),
       |m AS (SELECT event_type, count(*) AS n, sum(c) AS s,
       |    sum(c * c) AS q FROM dc GROUP BY event_type)
       |SELECT dc.event_type, day_idx, c,
       |  (c * n - s) * (c * n - s) > 4 * (n * q - s * s) AS is_anomaly
       |FROM dc JOIN m ON dc.event_type = m.event_type
       |ORDER BY dc.event_type, day_idx""".stripMargin) { (s, d) =>
    val dc = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(ts_us div 86400000000 as bigint)").as("day_idx"))
      .groupBy("event_type", "day_idx")
      .agg(count(lit(1)).as("c"))
    // decimal-before-multiply on every count product: DuckDB evaluates
    // c², (cn−s)², n·q and s² in HUGEINT; LongType versions wrap once a
    // single (type, day) count passes ~3e9 — decimal(38,0) keeps the
    // discriminant exact to 38 digits, so the boolean matches at scale
    val m = dc.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(expr("cast(c as decimal(19,0)) * c")).as("q"))
    dc.join(broadcast(m), "event_type")
      .select(col("event_type"), col("day_idx"), col("c"),
        expr("(cast(c as decimal(19,0)) * n - s) * (cast(c as decimal(19,0)) * n - s)" +
          " > 4 * (cast(n as decimal(19,0)) * q - cast(s as decimal(19,0)) * s)").as("is_anomaly"))
      .orderBy("event_type", "day_idx")
  }

  /** Per-doc keyword extraction: top-3 tokens by tf·idf within each doc —
    * the summarization/tagging primitive. The idf floor-scales to an
    * exact ×10⁶ integer FIRST (margins spec-gated), then multiplies by
    * the integer per-doc tf, so scores and their (score DESC, token)
    * rank order are engine-exact. The idf table is vocab-bounded and
    * broadcasts; the rank window partitions on doc_id — maximally
    * shardable.
    */
  private val textKeywordExtract = Q("text_keyword_extract",
    s"""WITH toks AS (SELECT doc_id, lang,
       |    unnest(string_split(text, ' ')) AS tok FROM documents),
       |dtf AS (SELECT doc_id, lang, tok, count(*) AS tf
       |  FROM toks GROUP BY doc_id, lang, tok),
       |df AS (SELECT lang, tok, count(DISTINCT doc_id) AS df
       |  FROM toks GROUP BY lang, tok),
       |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
       |idf AS (SELECT df.lang, tok,
       |    CAST(floor(ln((CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE))
       |        / (CAST(df AS DOUBLE) + CAST(1 AS DOUBLE)))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS idf_e6
       |  FROM df JOIN nd ON df.lang = nd.lang),
       |scored AS (SELECT doc_id, dtf.tok, tf * idf_e6 AS score_e6,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY tf * idf_e6 DESC, dtf.tok) AS rk
       |  FROM dtf JOIN idf ON dtf.lang = idf.lang AND dtf.tok = idf.tok)
       |SELECT doc_id, rk, tok, score_e6 FROM scored
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    // ONE tokenization pass: dtf has one row per (doc, lang, tok), so the
    // document frequency is a plain count window over (lang, tok) on dtf
    // itself — the old separate countDistinct aggregate re-tokenized
    // documents (r17 scan audit: 3 scans -> 2; the remaining n_docs pass
    // reads only the 2 narrow id/lang columns, no text)
    val dtf = toks.groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("lang", "tok")))
    val nd = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    dtf.join(broadcast(nd), "lang")
      .withColumn("idf_e6", expr(
        "cast(floor(ln((cast(n_docs as double) + 1.0d) / (cast(df as double) + 1.0d)) * 1000000.0d + 0.5d) as bigint)"))
      .withColumn("score_e6", expr("tf * idf_e6"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("tok"))))
      .filter(col("rk") <= 3)
      // row_number is int32 in Spark, int64 in DuckDB — widen to match the
      // oracle exactly (the driver's hash is type-sensitive).
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("tok"), col("score_e6"))
      .orderBy("doc_id", "rk")
  }

  /** The approximate-quantile path this suite's exact ops document as
    * their 100 TB fallback (e.g. non-dyadic cut points, or when even the
    * sorted-fetch pass is too much): `percentile_approx` (Greenwald-
    * Khanna summaries, mergeable, bounded memory) with the EXACT octiles
    * riding alongside from [[graft.operators.ExactQuantiles]], so the
    * output itself exhibits the sketch error. No SQL oracle by design —
    * sketch internals are engine-specific (driver records rows-only);
    * StatsSpec gates the relative error against the exact values.
    */
  private val aggApproxPercentile = Q("agg_approx_percentile",
    { (s: org.apache.spark.sql.SparkSession, d: String) =>
      import s.implicits._
      val t = Tables.lineitem(s, d)
        .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("vi"))
      val exact = graft.operators.ExactQuantiles
        .scaled(t, "vi", Seq(0.25, 0.5, 0.75), 4)
      val approx = t.agg(expr(
          "percentile_approx(vi, array(0.25d, 0.5d, 0.75d), 10000)").as("ap"))
        .select(posexplode(col("ap")))
        .select(col("pos"), col("col").cast("long").as("approx_cents"))
      val exactDf = Seq(0.25, 0.5, 0.75).zipWithIndex.zip(exact)
        .map { case ((p, i), q4) => (i, p, q4) }.toDF("pos", "p", "exact_x4")
      approx.join(broadcast(exactDf), "pos")
        .select(col("p"), col("approx_cents"),
          expr("cast(exact_x4 as double) / 4").as("exact_cents"))
        .orderBy("p")
        .select("p", "approx_cents", "exact_cents")
    }, None)


  /** The ORACLED exact companion of [[aggApproxPercentile]] (split out
    * r12 so the rows-only set shrinks where the math allows): the same
    * lineitem price quartiles through the same distributed
    * [[graft.operators.ExactQuantiles]] order-statistics pass, but
    * WITHOUT the engine-specific GK sketch riding alongside — quartile
    * cuts on integer cents interpolate at exact quarter points, so the
    * ×4-scaled values are exact BIGINTs and `quantile_cont` rebuilds them
    * bit-for-bit (the skew_profile discipline). agg_approx_percentile
    * keeps exhibiting the sketch error next to these values; this key
    * pins the exact side under the driver's hash.
    */
  private val aggQuartilesExact = Q("agg_quartiles_exact",
    s"""WITH t AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS vi FROM lineitem),
       |q AS (SELECT CAST(quantile_cont(vi, 0.25) * 4 AS BIGINT) AS q1,
       |    CAST(quantile_cont(vi, 0.5) * 4 AS BIGINT) AS q2,
       |    CAST(quantile_cont(vi, 0.75) * 4 AS BIGINT) AS q3 FROM t)
       |SELECT p, exact_x4, CAST(exact_x4 AS DOUBLE) / 4 AS exact_cents FROM (
       |  SELECT CAST(0.25 AS DOUBLE) AS p, q1 AS exact_x4 FROM q
       |  UNION ALL SELECT CAST(0.5 AS DOUBLE), q2 FROM q
       |  UNION ALL SELECT CAST(0.75 AS DOUBLE), q3 FROM q) s
       |ORDER BY p""".stripMargin) { (s, d) =>
    import s.implicits._
    val t = Tables.lineitem(s, d)
      .select(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("vi"))
    val exact = graft.operators.ExactQuantiles
      .scaled(t, "vi", Seq(0.25, 0.5, 0.75), 4)
    Seq(0.25, 0.5, 0.75).zip(exact)
      .map { case (p, q4) => (p, q4, q4.toDouble / 4) }
      .toDF("p", "exact_x4", "exact_cents")
      .orderBy("p")
  }

  /** Join-key skew diagnostic: the distribution of per-key row counts for
    * a prospective join key (orders per customer) — octile quantiles, max
    * and key cardinality. THE question this answers at 100 TB is "does
    * this key need salting/AQE-skew-join before I shuffle on it". The
    * heavy table feeds one combinable count aggregate; the quantiles run
    * on the per-key COUNT table via [[graft.operators.ExactQuantiles]]
    * (dyadic cuts — exact on both engines); output is 8 stat rows.
    */
  private val skewProfile = Q("skew_profile",
    s"""WITH c AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
       |q AS (SELECT
       |    CAST(quantile_cont(n, 0.0) * 8 AS BIGINT) AS q0,
       |    CAST(quantile_cont(n, 0.25) * 8 AS BIGINT) AS q2,
       |    CAST(quantile_cont(n, 0.5) * 8 AS BIGINT) AS q4,
       |    CAST(quantile_cont(n, 0.75) * 8 AS BIGINT) AS q6,
       |    CAST(quantile_cont(n, 7.0/8.0) * 8 AS BIGINT) AS q7,
       |    CAST(quantile_cont(n, 1.0) * 8 AS BIGINT) AS q8
       |  FROM c)
       |SELECT stat, value FROM (
       |  SELECT 'n_keys' AS stat, CAST((SELECT count(*) FROM c) AS DOUBLE) AS value
       |  UNION ALL SELECT 'n_rows', CAST((SELECT sum(n) FROM c) AS DOUBLE)
       |  UNION ALL SELECT 'p000', CAST(q0 AS DOUBLE) / 8 FROM q
       |  UNION ALL SELECT 'p250', CAST(q2 AS DOUBLE) / 8 FROM q
       |  UNION ALL SELECT 'p500', CAST(q4 AS DOUBLE) / 8 FROM q
       |  UNION ALL SELECT 'p750', CAST(q6 AS DOUBLE) / 8 FROM q
       |  UNION ALL SELECT 'p875', CAST(q7 AS DOUBLE) / 8 FROM q
       |  UNION ALL SELECT 'p1000', CAST(q8 AS DOUBLE) / 8 FROM q) t
       |ORDER BY stat""".stripMargin) { (s, d) =>
    import s.implicits._
    val c = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    val agg = c.agg(count(lit(1)).as("nk"), sum("n").as("nr")).head()
    // empty-input degrade: the oracle's aggregate-over-zero-rows still
    // yields its 8 stat rows with NULL values (sum and quantile_cont of
    // nothing are NULL) — mirror that exactly instead of zero-filling
    val nKeys = agg.getLong(0)
    val nRows = if (agg.isNullAt(1)) None else Some(agg.getLong(1).toDouble)
    val qs: Seq[Option[Double]] =
      if (nKeys == 0L) Seq.fill(6)(None)
      else graft.operators.ExactQuantiles.scaled(
        c, "n", Seq(0.0, 0.25, 0.5, 0.75, 7.0 / 8, 1.0), 8)
        .map(q => Some(q.toDouble / 8)).toSeq
    (Seq("n_keys" -> Option(nKeys.toDouble), "n_rows" -> nRows) ++
      Seq("p000", "p250", "p500", "p750", "p875", "p1000").zip(qs))
      .toDF("stat", "value")
      .orderBy("stat")
  }


  /** RFM customer segmentation — recency / frequency / monetary quartile
    * scores (1–4 each), reported as cell counts over the 64-cell cube.
    * All three measures are exact integers (epoch-day recency, order
    * count, cents revenue); the quartile boundaries come from
    * [[graft.operators.ExactQuantiles]] over the per-customer table
    * (dyadic cuts, ×4 exact BIGINT on both engines) and inline as
    * LITERALS into the map-side score expression — no join, one
    * combinable aggregate each way. Ties score identically on both
    * engines via the strict 4·v > q comparison.
    */
  private val ordersRfm = Q("orders_rfm", {
    def b(dim: String, k: Int) =
      s"CAST(quantile_cont($dim, ${k}.0/4.0) * 4 AS BIGINT) AS ${dim}$k"
    val qs = (for (dim <- Seq("r", "f", "m"); k <- 1 to 3) yield b(dim, k))
      .mkString(",\n       |    ")
    def score(dim: String) = (1 to 3)
      .map(k => s"(CASE WHEN 4 * $dim > ${dim}$k THEN 1 ELSE 0 END)")
      .mkString(s"1 + ", " + ", s" AS ${dim}_score")
    s"""WITH c AS (SELECT o_custkey,
       |    max(epoch_us(o_orderdate) // 86400000000) AS r,
       |    count(*) AS f,
       |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m
       |  FROM orders GROUP BY o_custkey),
       |q AS (SELECT $qs FROM c),
       |scored AS (SELECT ${score("r")}, ${score("f")}, ${score("m")}
       |  FROM c, q)
       |SELECT r_score, f_score, m_score, count(*) AS n_customers
       |FROM scored GROUP BY r_score, f_score, m_score
       |ORDER BY r_score, f_score, m_score""".stripMargin
  }) { (s, d) =>
    // cached LAZILY: the consumers — ExactQuantiles' range pass and the
    // final scoring aggregate — are strictly SEQUENTIAL actions, so the
    // first EQ job materializes the cache; an explicit count would only
    // add its AQE job chain (r21 audit: build jobs 9 -> 6). Uncached,
    // each consumer re-ran the orders scan + per-customer aggregate (r17
    // scan audit: 4 scans -> 1).
    val c = graft.Caching.ensureCached(Tables.orders(s, d)
      .select(col("o_custkey"),
        // o_orderdate reads as TIMESTAMP_NTZ; the UTC session makes the
        // TIMESTAMP cast instant-preserving, matching DuckDB's epoch_us
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000").as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("o_custkey")
      .agg(max("day").as("r"), count(lit(1)).as("f"), sum("cents").as("m")))
    // ONE grouped ExactQuantiles pass for all nine boundaries (r21,
    // VERDICT r20 item 3 — the key was the suite's most action-heavy at
    // 19 jobs): the three dims stack into a (dim, value) table and the
    // grouped boundary-collect operator ranges over it once, so the r/f/m
    // quartiles cost one range shuffle + two scalar collects instead of
    // one ExactQuantiles pass for m PLUS two in-plan crossJoin-broadcast
    // window subframes for r and f (each a broadcast-build job chain at
    // sink time). Exactness is unchanged: groupedScaled's
    // round(4a + (b−a)·frac·4) over bracketing order statistics IS the
    // quartile·4 = (4−g)·a + g·b idiom the in-plan form computed (g =
    // (k(n−1)) mod 4, dyadic frac exact in double), and m used this very
    // operator before. The m domain is ~|customers|-distinct, so the
    // boundary-collect operator remains the right shape (a
    // domain-collapsed quantile window would be partition-less over a
    // row-count-sized domain — the banned shape); r and f merely ride
    // the same range pass, keyed by dim.
    val stacked = c.select(explode(expr(
      "array(named_struct('g', 'r', 'v', r)," +
        " named_struct('g', 'f', 'v', f)," +
        " named_struct('g', 'm', 'v', m))")).as("s"))
      .select(col("s.g").as("g"), col("s.v").as("v"))
    val bounds = graft.operators.ExactQuantiles
      .groupedScaled(stacked, "g", "v", Seq(0.25, 0.5, 0.75), 4)
    def score(dim: String) = {
      // empty input ⇒ no groups in the map; the scorer's literals are
      // irrelevant then (c is empty), mirroring ExactQuantiles.scaled's
      // all-zero degrade
      val qs = bounds.getOrElse(dim, Array.fill(3)(0L))
      "1 + " + (1 to 3)
        .map(k => s"(case when 4 * $dim > ${qs(k - 1)}L then 1 else 0 end)")
        .mkString(" + ")
    }
    c.select(
        expr(score("r")).as("r_score"),
        expr(score("f")).as("f_score"),
        expr(score("m")).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_score", "f_score", "m_score")
  }


  /** Byte-level compressibility quality signal (the Gopher/RefinedWeb
    * filter family): deflate each doc at a FIXED level and report the
    * compressed/raw ratio — templated or repetitive text compresses far
    * below organic prose. No SQL oracle by design (deflate output is a
    * JVM library artifact; the driver records rows-only) — StatsSpec
    * gates determinism across runs and that a planted highly-repetitive
    * doc scores below every organic doc. The UDF is the declared scalar-
    * UDF surface (no built-in codec expression exists); it is map-only,
    * zero shuffle beyond the presentation sort, and at 100 TB fuses into
    * the scan like every other per-row scorer.
    */
  private val textCompressibility = Q("text_compressibility",
    { (s: org.apache.spark.sql.SparkSession, d: String) =>
      val deflatedLen = udf { (text: String) =>
        val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val deflater = new java.util.zip.Deflater(6, false)
        deflater.setInput(in); deflater.finish()
        val buf = new Array[Byte](in.length + 64)
        var total = 0L
        while (!deflater.finished()) total += deflater.deflate(buf)
        deflater.end()
        total
      }
      // denominator is the UTF-8 BYTE count (octet_length), matching the
      // deflater's input — length() counts characters and would undercount
      // non-ASCII docs, letting ratios exceed 1 without any repetition
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("cast(octet_length(text) as bigint)").as("n_bytes_utf8"),
          deflatedLen(col("text")).as("n_deflated"))
        .withColumn("ratio",
          expr("cast(n_deflated as double) / cast(n_bytes_utf8 as double)"))
        .orderBy("doc_id")
    }, None)

  /** Population Stability Index between the first and second half of the
    * event stream, per event type — the distribution-drift monitor a
    * training pipeline runs between two corpus snapshots before deciding
    * whether a refresh changed the data mix. The month is split at its
    * integer midpoint day (derived from the data, so the key works at any
    * sf); each type's per-half shares p, q contribute (p−q)·ln(p/q).
    * Parity: counts are exact BIGINTs; the single ln runs over a ratio of
    * exact decimal products (decimal-before-multiply — c·t products wrap
    * LongType at corpus scale) and floor-scales to ×10⁶ BEFORE the
    * (p−q)-weighting, which then stays in exact decimal arithmetic until
    * the final double division (identical shape both engines). Types
    * missing from either half are dropped (ln undefined) — common-support
    * PSI, documented; on this fixture every type appears in both halves.
    * Every term is ≥ 0 by construction (sign(p−q) == sign(ln p/q) and the
    * half-up rounding cannot flip a sign) — gated in StatsSpec. Shape:
    * two combinable aggregates + two 1-row broadcasts; scale-safe.
    */
  private val driftPsi = Q("drift_psi",
    s"""WITH dd AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
       |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM dd),
       |ct AS (SELECT event_type,
       |    CAST(sum(CASE WHEN day < m THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
       |    CAST(sum(CASE WHEN day >= m THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
       |  FROM dd CROSS JOIN mid GROUP BY event_type
       |  HAVING sum(CASE WHEN day < m THEN 1 ELSE 0 END) > 0
       |     AND sum(CASE WHEN day >= m THEN 1 ELSE 0 END) > 0),
       |t AS (SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
       |    CAST(sum(c_cur) AS BIGINT) AS t_cur FROM ct)
       |SELECT event_type, c_ref AS n_ref, c_cur AS n_cur,
       |  CAST((CAST(c_ref AS DECIMAL(19,0)) * t_cur - CAST(c_cur AS DECIMAL(19,0)) * t_ref)
       |      * CAST(floor(ln(CAST(CAST(c_ref AS DECIMAL(19,0)) * t_cur AS DOUBLE)
       |                    / CAST(CAST(c_cur AS DECIMAL(19,0)) * t_ref AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |    AS DOUBLE)
       |  / (CAST(CAST(t_ref AS DECIMAL(19,0)) * t_cur AS DOUBLE) * 1000000.0) AS psi_contrib
       |FROM ct CROSS JOIN t ORDER BY event_type""".stripMargin) { (s, d) =>
    // rows collapse FIRST onto the bounded (type, day) domain — day count
    // is wall-clock-bounded (the interval_concurrency argument), so the
    // midpoint and the ref/cur split derive from windows over that tiny
    // table instead of re-scanning events per marginal (r17 scan audit:
    // the old dd/mid/ct/t shape read events 4×; this is ONE O(data)
    // combinable aggregate, everything after runs on the domain).
    // Partition-less windows here are on the bounded domain —
    // PlansSpec-allowlisted.
    val all = Window.partitionBy()
    val cells = Tables.events(s, d).select(col("event_type"),
        expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("mn", min("day").over(all))
      .withColumn("mx", max("day").over(all))
      .withColumn("m", expr("(mn + mx + 1) div 2"))
    val ct = cells
      .groupBy("event_type")
      .agg(sum(expr("case when day < m then cnt else 0 end")).as("c_ref"),
        sum(expr("case when day >= m then cnt else 0 end")).as("c_cur"))
      .filter(col("c_ref") > 0 && col("c_cur") > 0)
      .withColumn("t_ref", sum("c_ref").over(all))
      .withColumn("t_cur", sum("c_cur").over(all))
    ct
      .withColumn("lr_e6", expr(
        "cast(floor(ln(cast(cast(c_ref as decimal(19,0)) * t_cur as double)" +
          " / cast(cast(c_cur as decimal(19,0)) * t_ref as double)) * 1000000.0d + 0.5d) as bigint)"))
      .select(col("event_type"), col("c_ref").as("n_ref"), col("c_cur").as("n_cur"),
        expr("cast((cast(c_ref as decimal(19,0)) * t_cur - cast(c_cur as decimal(19,0)) * t_ref)" +
          " * lr_e6 as double)" +
          " / (cast(cast(t_ref as decimal(19,0)) * t_cur as double) * 1000000.0d)").as("psi_contrib"))
      .orderBy("event_type")
  }

  /** WEIGHTED quartiles (lower weighted quantile: the smallest value whose
    * cumulative weight reaches p of the total) of l_quantity weighted by
    * integer-cent revenue, per return flag — the "what quantity level
    * carries half the money" audit, which unweighted percentiles get
    * wrong whenever weight correlates with value. All-integer: weights
    * snap to cents, the quantile predicates are cross-multiplied
    * (4·cw ≥ k·tw — no division anywhere), so both engines agree exactly.
    * Scale: the heavy pass is ONE map-combinable groupBy over
    * (flag, quantity) — a 3×50-row table at any corpus size; the
    * cumulative window runs on those ≤50 rows per flag, so unlike a
    * naive per-row cumulative-weight window (a full sort of the fact
    * table) this survives 100 TB unchanged. Int64 cross-products hold to
    * ~5×10¹⁷ cents of total weight; past that the pre-agg sums move to
    * DECIMAL(38,0) without touching the shape.
    */
  private val aggWeightedMedian = Q("agg_weighted_median",
    s"""WITH b AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS wt FROM lineitem),
       |g AS (SELECT flag, q, CAST(sum(wt) AS BIGINT) AS w FROM b GROUP BY flag, q),
       |c AS (SELECT flag, q, w,
       |    CAST(sum(w) OVER (PARTITION BY flag ORDER BY q) AS BIGINT) AS cw,
       |    CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw FROM g)
       |SELECT flag, CAST(max(tw) AS BIGINT) AS w_total,
       |  CAST(min(CASE WHEN 4 * cw >= tw THEN q END) AS BIGINT) AS wq25,
       |  CAST(min(CASE WHEN 2 * cw >= tw THEN q END) AS BIGINT) AS wq50,
       |  CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN q END) AS BIGINT) AS wq75
       |FROM c GROUP BY flag ORDER BY flag""".stripMargin) { (s, d) =>
    // the generic operator owns the domain-reduce + cross-multiplied
    // window idiom; this query pins only the UNITS (quantity, cents)
    val b = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("q"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("wt"))
    graft.operators.WeightedQuantiles.of(b, "flag", "q", "wt",
      Seq((1, 4, "wq25"), (1, 2, "wq50"), (3, 4, "wq75")))
  }

  /** Cramér's V association between two categorical columns (market
    * segment × nation over customer) — the audit that answers "is this
    * slice dimension independent of that one" before stratifying or
    * rebalancing on either. χ² is summed as per-cell ×10⁹ floor-scaled
    * integers (the ln-score discipline: each cell's double is computed
    * with IDENTICAL expression shape on both engines, so the scaled
    * integers match exactly and the SUM is order-independent — a raw
    * double Σ would hash-differ on addend order). Scale: the fact table
    * is scanned ONCE into a combinable (seg, nat) count; marginals and
    * the grand total are WINDOW sums over that cell table (≤
    * |dom₁|·|dom₂| rows — model-sized forever), so there are no joins
    * and no re-scans. (The first cut re-derived rt/ct/tot as separate
    * aggregations of `cells`; ReuseExchange does NOT collapse those —
    * each branch pushes a different isnotnull join-key filter into its
    * scan, so the canonical plans differ and the customer table was
    * physically read five times. The window shape makes single-scan
    * true by construction, not by optimizer luck.) The empty-partition
    * global window is safe: it sees cell rows, never fact rows.
    */
  private val statsCramersV = Q("stats_cramers_v", {
    val e = "CAST(rtv AS DOUBLE) * ctv / nv"
    val dev = s"(CAST(o AS DOUBLE) - $e)"
    val si = s"CAST(floor($dev * $dev / ($e) * 1000000000 + 0.5) AS BIGINT)"
    s"""WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
       |    CAST(count(*) AS BIGINT) AS o FROM customer GROUP BY seg, nat),
       |rt AS (SELECT seg, CAST(sum(o) AS BIGINT) AS rtv FROM cells GROUP BY seg),
       |ct AS (SELECT nat, CAST(sum(o) AS BIGINT) AS ctv FROM cells GROUP BY nat),
       |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nv,
       |    CAST(count(DISTINCT seg) AS BIGINT) AS nseg,
       |    CAST(count(DISTINCT nat) AS BIGINT) AS nnat FROM cells),
       |j AS (SELECT c.o AS o, r.rtv AS rtv, x.ctv AS ctv, t.nv AS nv
       |  FROM cells c JOIN rt r ON r.seg = c.seg
       |    JOIN ct x ON x.nat = c.nat CROSS JOIN tot t),
       |chi AS (SELECT CAST(sum($si) AS BIGINT) AS chi2_9 FROM j)
       |SELECT t.nv AS n, t.nseg AS n_seg, t.nnat AS n_nat, chi.chi2_9,
       |  ${e6(DuckF, "chi.chi2_9",
            s"${DuckF.bigCast("'1000000000'")} * t.nv * greatest(least(t.nseg, t.nnat) - 1, 1)")} AS v2_e6
       |FROM chi CROSS JOIN tot t""".stripMargin
  }) { (s, d) =>
    val e = "CAST(rtv AS DOUBLE) * ctv / nv"
    val dev = s"(CAST(o AS DOUBLE) - $e)"
    val si = s"CAST(floor($dev * $dev / ($e) * 1000000000 + 0.5) AS BIGINT)"
    val cells = Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("o"))
    val w = cells
      .withColumn("rtv", sum("o").over(Window.partitionBy("seg")))
      .withColumn("ctv", sum("o").over(Window.partitionBy("nat")))
      .withColumn("nv", sum("o").over(Window.partitionBy()))
    w.agg(max("nv").as("n"),
        countDistinct("seg").as("n_seg"), countDistinct("nat").as("n_nat"),
        sum(expr(si)).as("chi2_9"))
      .select(col("n"), col("n_seg"), col("n_nat"), col("chi2_9"),
        expr(e6(SparkF, "chi2_9",
          s"${SparkF.bigCast("'1000000000'")} * n * greatest(least(n_seg, n_nat) - 1, 1)"))
          .as("v2_e6"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the event stream's
    * day-halves, per event type — the nonparametric companion to
    * [[driftPsi]]: PSI needs binning and misses shape changes inside a
    * bin; KS is the sup-norm CDF distance at full value resolution.
    * D's numerator is the EXACT integer max over the value domain of
    * |F1·n2 − F2·n1| (cross-multiplied — no division near the max), so
    * the statistic is engine-exact; d_e6 = floor(1e6·d_num/(n1·n2)) keeps the hash surface integer-only. Scale: the
    * stream collapses FIRST into ONE combinable (type, cent-value,
    * half) count — the cumulative windows and the max run on the
    * value-DOMAIN table (cents-bounded forever, the feature_cdf
    * discipline), never on raw events. Int64: F·n ≤ n² holds to n ≈
    * 3×10⁹ rows per type; past that the cross-products move to
    * DECIMAL(38,0) unchanged in shape.
    */
  private val statsKsTest = Q("stats_ks_test",
    s"""WITH b AS (SELECT event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
       |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM b),
       |g AS (SELECT event_type, vc,
       |    CAST(sum(CASE WHEN day < m THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN day >= m THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM b CROSS JOIN mid GROUP BY event_type, vc),
       |t AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
       |    CAST(sum(c2) AS BIGINT) AS n2 FROM g GROUP BY event_type
       |  HAVING sum(c1) > 0 AND sum(c2) > 0),
       |c AS (SELECT event_type, vc,
       |    CAST(sum(c1) OVER (PARTITION BY event_type ORDER BY vc) AS BIGINT) AS f1,
       |    CAST(sum(c2) OVER (PARTITION BY event_type ORDER BY vc) AS BIGINT) AS f2
       |  FROM g),
       |d AS (SELECT c.event_type,
       |    CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num
       |  FROM c JOIN t ON t.event_type = c.event_type GROUP BY c.event_type)
       |SELECT d.event_type, t.n1, t.n2, d_num,
       |  ${e6(DuckF, "d_num", s"${DuckF.bigCast("n1")} * n2")} AS d_e6
       |FROM d JOIN t ON t.event_type = d.event_type
       |ORDER BY d.event_type""".stripMargin) { (s, d) =>
    val b = Tables.events(s, d).select(col("event_type"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"),
      expr("cast(ts_us div 86400000000 as bigint)").as("day"))
    val mid = b.agg(expr("(min(day) + max(day) + 1) div 2").as("m"))
    val g = b.crossJoin(broadcast(mid))
      .groupBy("event_type", "vc")
      .agg(sum(expr("case when day < m then 1 else 0 end")).as("c1"),
        sum(expr("case when day >= m then 1 else 0 end")).as("c2"))
    // half totals as per-type WINDOW sums over the domain table rather
    // than a separate aggregate joined back: the join form re-derived g
    // (and its event scan) once per consumer — the stats_cramers_v
    // lesson. One exchange on event_type serves all three windows.
    val perType = Window.partitionBy("event_type")
    val c = g
      .withColumn("f1", sum("c1").over(perType.orderBy("vc")))
      .withColumn("f2", sum("c2").over(perType.orderBy("vc")))
      .withColumn("n1", sum("c1").over(perType))
      .withColumn("n2", sum("c2").over(perType))
    c.filter(col("n1") > 0 && col("n2") > 0)
      .groupBy("event_type")
      .agg(max(expr("abs(f1 * n2 - f2 * n1)")).as("d_num"),
        max("n1").as("n1"), max("n2").as("n2"))
      .select(col("event_type"), col("n1"), col("n2"), col("d_num"),
        expr(e6(SparkF, "d_num", s"${SparkF.bigCast("n1")} * n2")).as("d_e6"))
      .orderBy("event_type")
  }

  /** One-pass Pearson correlation matrix over lineitem's four numeric
    * measures — the profiling step before feature selection ("are price
    * and quantity collinear?"). Measures snap to integers first
    * (quantity, cents, percent points; per-row products ≤ ~10¹⁴ in
    * int64); moments, cov_m9 and r2_e6 + r_sign are ExactRatio's Pearson
    * tail on both engines (exactness contract: [[ExactRatio]]). Scale:
    * ONE combinable aggregate over the
    * fact table to a single 15-number row; the 6-row pair matrix is a
    * driver-free explode of that row. k columns → k(k−1)/2 output
    * rows, one pass, no shuffle beyond the final 1-row exchange.
    */
  private val statsCorrMatrix = Q("stats_corr_matrix", {
    val cols = Seq(
      "CAST(l_quantity AS BIGINT)",
      "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
      "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
      "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)")
    val names = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val sums = (1 to 4).map(i => s"sum(x$i) AS s$i").mkString(", ")
    val prods = (for (i <- 1 to 4; j <- i to 4)
      yield s"sum(x$i * x$j) AS q$i$j").mkString(", ")
    val branches = (for (i <- 1 to 4; j <- (i + 1) to 4) yield
      s"""SELECT '${names(i - 1)}' AS col_x, '${names(j - 1)}' AS col_y, n,
         |  ${duckCols(Pearson(DuckF, "n", s"s$i", s"s$j",
              s"q$i$j", s"q$i$i", s"q$j$j").columns)}
         |  FROM m""".stripMargin).mkString("\nUNION ALL ")
    val inner = s"SELECT * FROM ($branches) u WHERE vxx > 0 AND vyy > 0"
    val laddered = ExactRatio.applyDuck(inner, Pearson.stages(DuckF, "r2_e6"))
    s"""WITH b AS (SELECT ${cols.zipWithIndex.map { case (c, i) => s"$c AS x${i + 1}" }.mkString(", ")}
       |  FROM lineitem),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums, $prods FROM b)
       |SELECT col_x, col_y, n, ${Pearson.digest(DuckF)} AS cov_m9,
       |  r2_e6, ${Pearson.sign} AS r_sign
       |FROM $laddered q ORDER BY col_x, col_y""".stripMargin
  }) { (s, d) =>
    // snap to integer units (quantity, cents, percent points) then hand
    // off to the generic one-pass operator — the query pins the UNITS,
    // the operator owns the moment/presentation arithmetic
    val b = Tables.lineitem(s, d).select(
      expr("cast(l_quantity as bigint)").as("l_quantity"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("l_extendedprice"),
      expr("cast(floor(l_discount * 100 + 0.5) as bigint)").as("l_discount"),
      expr("cast(floor(l_tax * 100 + 0.5) as bigint)").as("l_tax"))
    graft.operators.CorrMatrix.of(b,
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
  }

  /** Spearman rank correlation between quantity and price cents per
    * return flag — the monotone-association twin of `stats_corr_matrix`
    * (Pearson answers "linear?", Spearman answers "monotone?"; the gap
    * between them is the classic nonlinearity probe). Ranks are DOUBLED
    * average ranks so ties stay in integer arithmetic: for a row with
    * value v, 2·avgrank = rank(v) + cumcount(≤ v) exactly (min position
    * plus max position of the tie run), so rx/ry are BIGINTs and
    * cov_m9 / rho2_e6 / rho_sign are ExactRatio's Pearson tail over the
    * ranks (exactness contract: [[ExactRatio]]). Scale: rows collapse FIRST to
    * the (flag, x, y) joint DOMAIN through one combinable aggregate (the
    * only O(data) stage — at 100 TB the cents domain is bounded, so the
    * domain table stops growing with the corpus); both doubled ranks are
    * then WINDOW columns over that table (RANGE unbounded..current =
    * cum(≤v), RANGE current..current = the tie group) sharing ONE
    * exchange on flag, and the moments are a second combinable
    * aggregate. No joins — a marginal-tables-joined-back form scanned
    * lineitem three times (differing pushed join-key filters defeat
    * ReuseExchange; the stats_cramers_v lesson). A deployment with few
    * giant groups swaps the domain windows for
    * [[graft.operators.GroupedRanks.doubled]] — the range-partitioned
    * rank, spec-proved bit-identical to this window form on the same
    * fixture — so the contract survives the physical swap by
    * construction, not by prose.
    */
  private val statsSpearman = Q("stats_spearman",
    s"""WITH b AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x,
       |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y FROM lineitem),
       |r AS (SELECT flag,
       |    rank() OVER (PARTITION BY flag ORDER BY x)
       |      + count(*) OVER (PARTITION BY flag ORDER BY x
       |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx,
       |    rank() OVER (PARTITION BY flag ORDER BY y)
       |      + count(*) OVER (PARTITION BY flag ORDER BY y
       |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ry
       |  FROM b),
       |m AS (SELECT flag, CAST(count(*) AS BIGINT) AS n, ${duckCols(Pearson.sums(DuckF, "rx", "ry"))}
       |  FROM r GROUP BY flag)
       |SELECT flag, n, ${Pearson.digest(DuckF)} AS cov_m9,
       |  rho2_e6, ${Pearson.sign} AS rho_sign
       |FROM ${ExactRatio.applyDuck(
          s"SELECT flag, n, ${duckCols(Pearson(DuckF).columns)}" +
            s" FROM m WHERE ${Pearson(DuckF).nonDegenerate}",
          Pearson.stages(DuckF, "rho2_e6"))} q
       |ORDER BY flag""".stripMargin) { (s, d) =>
    val b = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      expr("cast(l_quantity as bigint)").as("x"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("y"))
    // DOMAIN-REDUCED ranks (no per-row sort): the oracle's per-row
    // rank+cumcount window is mathematically 2·avgrank(v) = 2·cum(≤v) −
    // c(v) + 1, a function of the VALUE DOMAIN only — so collapse rows
    // to the (flag, x, y) joint domain first (ONE combinable aggregate,
    // the only O(data) stage, full shuffle parallelism), derive each
    // variable's doubled rank on its bounded marginal domain, and take
    // the cross moment by joining the joint domain to the two rank
    // tables. The naive window form sorted 600k rows in THREE tasks
    // (one per flag — measured 2.7 s isolated, and a giant-group
    // deployment degenerates to one task per flag); here the heavy
    // stages are hash-partitioned aggregates/joins that scale with
    // cores, and the only per-flag sorts are over the cents-bounded
    // marginal domains.
    val jd = b.groupBy("flag", "x", "y").agg(count(lit(1)).as("c"))
    // both marginals as WINDOW columns over jd — never separate marginal
    // tables joined back: a (flag, x) marginal broadcast-joined to jd
    // re-tested this round (r17) still reads lineitem TWICE (the join
    // pushes isnotnull key filters into only one jd subtree, so
    // ReuseExchange never fires — the stats_cramers_v lesson verbatim,
    // measured scans=2 and ~1 s slower). RANGE frames do both jobs in
    // one sort per variable: unbounded..current sums ALL order peers →
    // cum(≤v); current..current sums exactly the tie group → c(v).
    def rank2(v: String) = {
      val o = Window.partitionBy("flag").orderBy(v)
      lit(2) * sum("c").over(o.rangeBetween(Window.unboundedPreceding, Window.currentRow)) -
        sum("c").over(o.rangeBetween(Window.currentRow, Window.currentRow)) + 1
    }
    // Moment sums, size-guarded (r18): every per-row product c·r2x·r2y is
    // bounded by 4n³ (c ≤ n, doubled ranks ≤ 2n), and so is each whole
    // per-flag SUM (Σc·max²). With n the per-flag row count (an unordered
    // window sharing the rank windows' exchange), a group with
    // n ≤ 1,000,000 has 4n³ = 4·10¹⁸ < 2⁶³−1 — the ENTIRE moment fits
    // int64, so the fast branch multiplies and sums codegen'd longs,
    // provably exact. Bigger groups take the DECIMAL(38,0)
    // cast-before-multiply branch (exact at any size, ADVICE r14); the
    // branch is per-flag constant, so each group sums entirely on one
    // side and the other side contributes 0/NULL. Values are identical
    // by construction; only the arithmetic engine changes.
    val r = jd.withColumn("r2x", rank2("x")).withColumn("r2y", rank2("y"))
      .withColumn("nf", sum("c").over(Window.partitionBy("flag")))
    def guarded(name: String, factors: String*) = {
      val prodL = ("c" +: factors).mkString(" * ")
      val prodD = ("cast(c as decimal(38,0))" +: factors).mkString(" * ")
      Seq(
        sum(expr(s"case when nf <= 1000000 then $prodL else 0L end"))
          .as(s"${name}_l"),
        sum(expr(s"case when nf > 1000000 then $prodD end")).as(s"${name}_d"))
    }
    def merged(name: String) = expr(
      s"cast(${name}_l as decimal(38,0)) + coalesce(${name}_d, cast(0 as decimal(38,0)))")
      .as(name)
    val m = r.groupBy("flag").agg(sum("c").as("n"),
        (guarded("sx", "r2x") ++ guarded("sy", "r2y") ++
          guarded("sxy", "r2x", "r2y") ++ guarded("sxx", "r2x", "r2x") ++
          guarded("syy", "r2y", "r2y")): _*)
      .select(col("flag"), col("n"), merged("sx"), merged("sy"),
        merged("sxy"), merged("sxx"), merged("syy"))
    // a constant group has no defined rho — excluded on BOTH engines
    val filtered = m.filter(expr(Pearson(SparkF).nonDegenerate))
      .select(col("flag") +: col("n") +: sparkCols(Pearson(SparkF).columns): _*)
    ExactRatio.applySparkDomain(filtered, Pearson.stages(SparkF, "rho2_e6"))
      .withColumn("rho_sign", expr(Pearson.sign))
      .withColumn("cov_m9", expr(Pearson.digest(SparkF)))
      .select("flag", "n", "cov_m9", "rho2_e6", "rho_sign")
      .orderBy("flag")
  }

  /** Lag-1 autocorrelation of the daily event count per event type — the
    * seasonality/trend screen a pipeline runs before picking a drift
    * detector (high AC1 → day-over-day momentum, PSI windows must span
    * it). Pairs are ADJACENT observed days (day, day+1 both present);
    * counts are integers, so cov_m9 / ac12_e6 / ac1_sign are ExactRatio's
    * Pearson tail over (c_t, c_{t−1}) (exactness contract:
    * [[ExactRatio]]). Scale: the daily table
    * is |types|×|days| rows (tiny at any SF) — the heavy lifting is the
    * ONE map-combinable count aggregate over events; the lag window and
    * moment aggregate run on the reduced domain.
    */
  private val eventsAutocorr = Q("events_autocorr",
    s"""WITH daily AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY event_type, day),
       |p AS (SELECT event_type, day, c,
       |    lag(day) OVER (PARTITION BY event_type ORDER BY day) AS pday,
       |    lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
       |  FROM daily),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, ${duckCols(Pearson.sums(DuckF, "c", "pc"))}
       |  FROM p WHERE pday = day - 1 GROUP BY event_type)
       |SELECT event_type, n, ${Pearson.digest(DuckF)} AS cov_m9,
       |  ac12_e6, ${Pearson.sign} AS ac1_sign
       |FROM ${ExactRatio.applyDuck(
          s"SELECT event_type, n, ${duckCols(Pearson(DuckF).columns)}" +
            s" FROM m WHERE n >= 2 AND ${Pearson(DuckF).nonDegenerate}",
          Pearson.stages(DuckF, "ac12_e6"))} q
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val p = daily
      .withColumn("pday", lag("day", 1).over(w))
      .withColumn("pc", lag("c", 1).over(w))
      .filter(col("pday") === col("day") - 1)
    val m = p.groupBy("event_type").agg(count(lit(1)).as("n"),
      sparkCols(Pearson.sums(SparkF, "c", "pc")): _*)
    // a type whose daily counts never vary has no defined AC1
    val filtered = m.filter(expr(s"n >= 2 AND ${Pearson(SparkF).nonDegenerate}"))
      .select(col("event_type") +: col("n") +: sparkCols(Pearson(SparkF).columns): _*)
    ExactRatio.applySparkDomain(filtered, Pearson.stages(SparkF, "ac12_e6"))
      .withColumn("ac1_sign", expr(Pearson.sign))
      .withColumn("cov_m9", expr(Pearson.digest(SparkF)))
      .select("event_type", "n", "cov_m9", "ac12_e6", "ac1_sign")
      .orderBy("event_type")
  }

  /** Mann-Whitney U between the first- and second-half days of each
    * event type's value distribution — the rank-sum drift test on the
    * SAME half-split as `stats_ks_test` (KS asks "did the shape move?",
    * U asks "did one half stochastically dominate?"). Computed from the
    * (type, cent) contingency domain, never per-row ranks: DOUBLED
    * U2 = Σ_v c1(v)·(2·cum2(<v) + c2(v)) counts each cross-half pair
    * twice (wins ×2, ties ×1), staying in exact BIGINT arithmetic;
    * auc_e6 = floor(1e6·U2/(2·n1·n2)) is the common-language effect size
    * as an exact integer (no hashed double). Scale: identical to the KS plan — one
    * combinable aggregate to the cent domain, window sums over ONE
    * exchange on event_type, no joins.
    */
  private val statsMannwhitney = Q("stats_mannwhitney",
    s"""WITH b AS (SELECT event_type,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
       |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM b),
       |g AS (SELECT event_type, vc,
       |    CAST(sum(CASE WHEN day < m THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(sum(CASE WHEN day >= m THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM b CROSS JOIN mid GROUP BY event_type, vc),
       |c AS (SELECT event_type, vc, c1, c2,
       |    coalesce(CAST(sum(c2) OVER (PARTITION BY event_type ORDER BY vc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum2,
       |    CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
       |    CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
       |  FROM g),
       |u AS (SELECT event_type, max(n1) AS n1, max(n2) AS n2,
       |    CAST(sum(c1 * (2 * cum2 + c2)) AS BIGINT) AS u2
       |  FROM c GROUP BY event_type HAVING max(n1) > 0 AND max(n2) > 0)
       |SELECT event_type, n1, n2, u2,
       |  ${e6(DuckF, "u2", s"${DuckF.bigCast("2")} * n1 * n2")} AS auc_e6
       |FROM u ORDER BY event_type""".stripMargin) { (s, d) =>
    val b = Tables.events(s, d).select(col("event_type"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"),
      expr("cast(ts_us div 86400000000 as bigint)").as("day"))
    val mid = b.agg(expr("(min(day) + max(day) + 1) div 2").as("m"))
    val g = b.crossJoin(broadcast(mid))
      .groupBy("event_type", "vc")
      .agg(sum(expr("case when day < m then 1 else 0 end")).as("c1"),
        sum(expr("case when day >= m then 1 else 0 end")).as("c2"))
    // domain rows are one-per-vc, so a ROWS frame ending 1 PRECEDING is
    // exactly "count of second-half values strictly below vc"; the half
    // totals are windows over the same exchange (the cramers/ks lesson —
    // never a separate aggregate joined back).
    val perType = Window.partitionBy("event_type")
    val c = g
      .withColumn("cum2", coalesce(sum("c2").over(perType.orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n1", sum("c1").over(perType))
      .withColumn("n2", sum("c2").over(perType))
    c.groupBy("event_type")
      .agg(max("n1").as("n1"), max("n2").as("n2"),
        sum(expr("c1 * (2 * cum2 + c2)")).as("u2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("event_type"), col("n1"), col("n2"), col("u2"),
        expr(e6(SparkF, "u2", s"${SparkF.bigCast("2")} * n1 * n2")).as("auc_e6"))
      .orderBy("event_type")
  }

  /** One-way ANOVA F of event value (cents) across event types — the
    * mean-shift screen that completes the drift suite (KS: shape, U:
    * dominance, AC1: momentum, this: do the GROUP MEANS differ more than
    * within-group noise explains?). Group moments (n, Σvc, Σvc²) are
    * exact integer sums; the F machinery from there on is the shared
    * one-way ANOVA tail ([[anovaSpark]] / [[anovaDuck]]). Scale: ONE
    * combinable aggregate over events (the only O(data) stage);
    * everything after runs on the |types|-row table. Int64: vc² ≤ 10¹⁰
    * per row keeps per-row products exact.
    */
  private val statsAnova = Q("stats_anova",
    anovaDuck(s"""WITH b AS (SELECT event_type AS g,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |gm AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
       |    ${ExactRatio.bigSum(DuckF, "vc")} AS sg,
       |    ${ExactRatio.bigSum(DuckF, "vc * vc")} AS ssg FROM b GROUP BY g)""".stripMargin)) { (s, d) =>
    val b = Tables.events(s, d).select(col("event_type").as("g"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
    anovaSpark(b.groupBy("g").agg(count(lit(1)).as("ng"),
      expr(ExactRatio.bigSum(SparkF, "vc")).as("sg"),
      expr(ExactRatio.bigSum(SparkF, "vc * vc")).as("ssg")))
  }

  /** The one-way ANOVA tail shared by [[statsAnova]] and [[statsLevene]],
    * from per-group moments (g, ng, sg, ssg) to the output row
    * (k, n, sst_m9, ssb_c2, f_e6, eta2_e6). The total scatter ×N
    * (sst_n = N·Σv² − S²) is exact and ships as its digest; SSB is an
    * exact BIGINT because each group's term n_g(m_g−m)² =
    * (s_g·N − S·n_g)²/(n_g·N²) is computed from exact integers with ONE
    * double division and floor(x+0.5)-snapped — both engines do the
    * identical IEEE operation, and the integer SUM of snapped terms is
    * order-free. f_e6/eta2_e6 are shift-laddered rationals over
    * DIVISION-FREE 128-bit products, f = ssb·(n−k)·n / (ssw_e·(k−1)) and
    * η² = ssb·n / sst_n with ssw_e = sst_n − n·ssb (a pre-division stage
    * would be an unguarded `div`, ExactRatio rule 4). Degenerate guards
    * are exact: SST > 0 via sst_n, SSW > 0 via max_g(n_g·ss_g − s_g²) > 0.
    * Scale ceiling (ADVICE r16): fa ≈ ssb·n² reaches 10³⁸ near n ≈ 10⁸
    * rows with cents² moments; past it the key fails loudly on both
    * engines rather than wrap.
    */
  private[graft] def anovaRatios(f: ExactRatio.Flavor): Seq[(String, String)] = Seq(
    "fa" -> s"${f.bigCast("ssb_c2")} * (n - k) * n",
    "fb" -> (s"greatest(${f.bigCast("sst_n")} - ${f.bigCast("n")} * ssb_c2," +
      s" ${f.bigCast("1")}) * (k - 1)"),
    "ea" -> s"${f.bigCast("ssb_c2")} * n",
    "eb" -> f.bigCast("sst_n"))

  private def anovaStages(f: ExactRatio.Flavor) =
    ExactRatio.ratE6Stages(f, "fa", "fb", "f_e6") ++
      ExactRatio.ratE6Stages(f, "ea", "eb", "eta2_e6")

  /** Per-group SSB term, snapped to an exact BIGINT (see [[anovaRatios]]). */
  private def anovaSsbTerm(sg: String, ng: String, n: String, s: String) =
    s"CAST(floor(CAST(($sg * $n - $s * $ng) * ($sg * $n - $s * $ng) AS DOUBLE)" +
      s" / (CAST($ng AS DOUBLE) * CAST($n AS DOUBLE) * CAST($n AS DOUBLE)) + 0.5) AS BIGINT)"

  /** Spark ANOVA tail over the per-group moment frame `gm`. */
  private def anovaSpark(gm: org.apache.spark.sql.DataFrame) = {
    // totals as windows over the |groups|-row table (one tiny exchange),
    // never a re-aggregating join back to a second fact scan
    val w = Window.partitionBy(lit(1))
    gm.withColumn("k", count(lit(1)).over(w))
      .withColumn("n", sum(expr(SparkF.bigCast("ng"))).over(w))
      .withColumn("s", sum("sg").over(w))
      .withColumn("ss", sum("ssg").over(w))
      .withColumn("maxa", max(expr(ExactRatio.coMoment(SparkF, "ng", "ssg", "sg", "sg"))).over(w))
      .groupBy("k", "n", "s", "ss", "maxa")
      .agg(sum(expr(anovaSsbTerm("sg", "ng", "n", "s"))).as("ssb_c2"))
      .select(expr("cast(k as bigint)").as("k"), expr("cast(n as bigint)").as("n"),
        expr(SparkF.bigCast("n * ss - s * s")).as("sst_n"),
        col("ssb_c2"), col("maxa"))
      .filter(col("k") >= 2 && expr("n > k") && col("sst_n") > 0 && col("maxa") > 0)
      .select(Seq(col("k"), col("n"), col("sst_n"), col("ssb_c2")) ++
        sparkCols(anovaRatios(SparkF)): _*)
      .transform(ExactRatio.applySparkDomain(_, anovaStages(SparkF)))
      .withColumn("sst_m9", expr(ExactRatio.modDigest(SparkF, "sst_n")))
      .select("k", "n", "sst_m9", "ssb_c2", "f_e6", "eta2_e6")
  }

  /** DuckDB ANOVA tail: `ctes` is a `WITH …` prefix ending in the per-group
    * moment CTE `gm`. */
  private def anovaDuck(ctes: String) =
    s"""$ctes,
       |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(ng) AS HUGEINT) AS n, sum(sg) AS s, sum(ssg) AS ss,
       |    max(${ExactRatio.coMoment(DuckF, "ng", "ssg", "sg", "sg")}) AS maxa FROM gm),
       |e AS (SELECT t.k, t.n, t.maxa,
       |    ${DuckF.bigCast("t.n * t.ss - t.s * t.s")} AS sst_n,
       |    CAST(sum(${anovaSsbTerm("gm.sg", "gm.ng", "t.n", "t.s")}) AS BIGINT) AS ssb_c2
       |  FROM gm CROSS JOIN t GROUP BY t.k, t.n, t.maxa, t.s, t.ss)
       |SELECT k, n, ${ExactRatio.modDigest(DuckF, "sst_n")} AS sst_m9,
       |  ssb_c2, f_e6, eta2_e6
       |FROM ${ExactRatio.applyDuck(
          "SELECT CAST(e.k AS BIGINT) AS k, CAST(e.n AS BIGINT) AS n, sst_n, ssb_c2, " +
            duckCols(anovaRatios(DuckF)) +
            " FROM e WHERE e.k >= 2 AND CAST(e.n AS BIGINT) > e.k AND sst_n > 0 AND maxa > 0",
          anovaStages(DuckF))} q""".stripMargin

  /** CUSUM changepoint per event type over the daily count series — the
    * "WHEN did it shift" localization that follows a positive drift test
    * (PSI/KS say THAT the window moved; the argmax of the mean-centered
    * cumulative sum says WHERE). cus_i = n·F_i − i·T over the observed-day
    * sequence (row i of n days, F cumulative count, T total) is an EXACT
    * BIGINT — no mean division anywhere — so the peak score and its
    * arg-day are engine-exact; ties break to the EARLIEST day via an
    * exact filter + min, never a sort-order dependence. frac_e6 =
    * floor(1e6·score/(n·T)) is an exact integer. Scale: the only O(data) stage is the
    * combinable daily count; windows and the argmax run on the
    * |types|×|days| domain table over ONE exchange on type. Int64:
    * n·F ≤ days·rows ≈ 10⁴·10¹² at 100 TB — within int64.
    */
  private val eventsCusum = Q("events_cusum",
    s"""WITH daily AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY event_type, day),
       |r AS (SELECT event_type, day, c,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
       |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS f,
       |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS t
       |  FROM daily),
       |cus AS (SELECT event_type, day, n, t, abs(n * f - i * t) AS a,
       |    max(abs(n * f - i * t)) OVER (PARTITION BY event_type) AS amax
       |  FROM r WHERE n >= 2)
       |SELECT event_type, max(n) AS n_days, max(t) AS total,
       |  min(day) AS cp_day, max(amax) AS cus_num,
       |  ${e6(DuckF, "max(amax)", s"${DuckF.bigCast("max(n)")} * max(t)")} AS frac_e6
       |FROM cus WHERE a = amax GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .agg(count(lit(1)).as("c"))
    // all four window columns share partitioning on event_type: the two
    // ordered ones add one in-partition sort, the two frame-less totals
    // ride the same exchange
    val perType = Window.partitionBy("event_type")
    val ordered = perType.orderBy("day")
    val r = daily
      .withColumn("i", row_number().over(ordered).cast("bigint"))
      .withColumn("f", sum("c").over(ordered))
      .withColumn("n", count(lit(1)).over(perType))
      .withColumn("t", sum("c").over(perType))
      .filter(col("n") >= 2)
      .withColumn("a", abs(col("n") * col("f") - col("i") * col("t")))
    r.withColumn("amax", max("a").over(perType))
      .filter(col("a") === col("amax"))
      .groupBy("event_type")
      .agg(max("n").as("n_days"), max("t").as("total"),
        min("day").as("cp_day"), max("amax").as("cus_num"))
      .select(col("event_type"), col("n_days"), col("total"), col("cp_day"),
        col("cus_num"),
        expr(e6(SparkF, "cus_num", s"${SparkF.bigCast("n_days")} * total")).as("frac_e6"))
      .orderBy("event_type")
  }

  /** Mutual information between market segment and nation over customer —
    * the information-theoretic association measure on the SAME
    * contingency as [[statsCramersV]] (χ² asks "how far from
    * independence in variance terms?", MI asks "how many nats does one
    * column reveal about the other?"; together they are the standard
    * column-dependency audit before feature selection). Per-cell
    * ln((o·n)/(rt·ct)) floor-snaps to a ×10⁶ integer (the col_entropy
    * ln discipline: exact int64 products cast exactly to double — all
    * ≤ 2⁵³ — one IEEE division, one ln, one snap, identical shape both
    * engines), so smi_e6 = Σ o·mi_e6 is an exact BIGINT and the gate
    * never hashes a float; mi_nats is presentation. Scale: identical
    * plan to cramers — ONE combinable aggregate to the contingency
    * cells, marginals as windows over that table (never joins back),
    * one output row.
    */
  private val statsMutualInfo = Q("stats_mutual_info",
    s"""WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
       |    CAST(count(*) AS BIGINT) AS o FROM customer GROUP BY seg, nat),
       |w AS (SELECT seg, nat, o,
       |    CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS rtv,
       |    CAST(sum(o) OVER (PARTITION BY nat) AS BIGINT) AS ctv,
       |    CAST(sum(o) OVER () AS BIGINT) AS nv FROM cells),
       |lp AS (SELECT *,
       |    CAST(floor(ln((CAST(o AS DOUBLE) * CAST(nv AS DOUBLE))
       |        / (CAST(rtv AS DOUBLE) * CAST(ctv AS DOUBLE)))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_e6
       |  FROM w)
       |SELECT max(nv) AS n,
       |  CAST(count(DISTINCT seg) AS BIGINT) AS n_seg,
       |  CAST(count(DISTINCT nat) AS BIGINT) AS n_nat,
       |  CAST(sum(o * mi_e6) AS BIGINT) AS smi_e6,
       |  CAST(sum(o * mi_e6) AS DOUBLE) / (CAST(max(nv) AS DOUBLE) * 1000000) AS mi_nats
       |FROM lp""".stripMargin) { (s, d) =>
    val cells = Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("o"))
    val w = cells
      .withColumn("rtv", sum("o").over(Window.partitionBy("seg")))
      .withColumn("ctv", sum("o").over(Window.partitionBy("nat")))
      .withColumn("nv", sum("o").over(Window.partitionBy()))
    w.withColumn("mi_e6", expr(
        "cast(floor(ln((cast(o as double) * cast(nv as double))" +
        " / (cast(rtv as double) * cast(ctv as double)))" +
          " * 1000000.0d + 0.5d) as bigint)"))
      .agg(max("nv").as("n"),
        countDistinct("seg").as("n_seg"), countDistinct("nat").as("n_nat"),
        sum(expr("o * mi_e6")).as("smi_e6"))
      .select(col("n"), col("n_seg"), col("n_nat"), col("smi_e6"),
        expr("cast(smi_e6 as double) / (cast(n as double) * 1000000)").as("mi_nats"))
  }

  /** Theil's uncertainty coefficient U(nation | segment) — the NORMALIZED
    * mutual information ("what fraction of nation-entropy does knowing
    * the segment remove", 0..1) that makes [[statsMutualInfo]]'s raw nats
    * comparable across tables, completing the association suite next to
    * `stats_cramers_v` (χ²-normalized) with the information-theoretic
    * normalization. Same contingency and per-cell snap discipline as
    * mutual_info (mi_e6 = floor(ln(o·n/(rt·ct))·1e6+0.5) per cell, exact
    * weighted sums); the denominator is the nation marginal entropy
    * −Σ ct·floor(ln(ct/n)·1e6+0.5). Both accumulate in DECIMAL(38,0)
    * (ct·lp ~ n·2.7e7 leaves int64 near n ~ 3·10¹¹ — the col_entropy
    * widen note), ship as mod-1e9+7 digests, and U ships as u_e6 =
    * sign(smi)·floor(1e6·|smi|/hn) through the shift-guarded ExactRatio
    * ladder — int64-only surface throughout. Scale: ONE combinable
    * aggregate onto the bounded |seg|×|nat| cell domain; marginals are
    * windows/regroups of those ≤125 rows.
    */
  private val statsTheilU = Q("stats_theil_u", {
    val inner =
      """SELECT n, n_seg, n_nat, smi, hnv,
        |  abs(CAST(smi AS HUGEINT)) AS ua,
        |  greatest(CAST(hnv AS HUGEINT), 1) AS ub
        |FROM mi CROSS JOIN hn""".stripMargin
    s"""WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
       |    CAST(count(*) AS BIGINT) AS o FROM customer GROUP BY seg, nat),
       |w AS (SELECT seg, nat, o,
       |    CAST(sum(o) OVER (PARTITION BY seg) AS BIGINT) AS rtv,
       |    CAST(sum(o) OVER (PARTITION BY nat) AS BIGINT) AS ctv,
       |    CAST(sum(o) OVER () AS BIGINT) AS nv FROM cells),
       |lp AS (SELECT *,
       |    CAST(floor(ln((CAST(o AS DOUBLE) * CAST(nv AS DOUBLE))
       |        / (CAST(rtv AS DOUBLE) * CAST(ctv AS DOUBLE)))
       |      * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mi_e6
       |  FROM w),
       |colm AS (SELECT nat, max(ctv) AS ct, max(nv) AS nv FROM lp GROUP BY nat),
       |hn AS (SELECT CAST(-sum(CAST(ct AS HUGEINT)
       |      * CAST(floor(ln(CAST(ct AS DOUBLE) / CAST(nv AS DOUBLE))
       |        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
       |    AS DECIMAL(38,0)) AS hnv FROM colm),
       |mi AS (SELECT max(nv) AS n,
       |    CAST(count(DISTINCT seg) AS BIGINT) AS n_seg,
       |    CAST(count(DISTINCT nat) AS BIGINT) AS n_nat,
       |    CAST(sum(CAST(o AS HUGEINT) * mi_e6) AS DECIMAL(38,0)) AS smi FROM lp)
       |SELECT n, n_seg, n_nat,
       |  ${ExactRatio.modDigest(ExactRatio.DuckF, "smi")} AS smi_m9,
       |  ${ExactRatio.modDigest(ExactRatio.DuckF, "hnv")} AS hn_m9,
       |  CAST(${ExactRatio.signInt("smi")} * u0_e6 AS BIGINT) AS u_e6
       |FROM ${ExactRatio.applyDuck(inner,
          ExactRatio.ratE6Stages(ExactRatio.DuckF, "ua", "ub", "u0_e6"))} q""".stripMargin
  }) { (s, d) =>
    val cells = Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("o"))
    val w = cells
      .withColumn("rtv", sum("o").over(Window.partitionBy("seg")))
      .withColumn("ctv", sum("o").over(Window.partitionBy("nat")))
      .withColumn("nv", sum("o").over(Window.partitionBy()))
    val lp = w.withColumn("mi_e6", expr(
      "cast(floor(ln((cast(o as double) * cast(nv as double))" +
        " / (cast(rtv as double) * cast(ctv as double)))" +
        " * 1000000.0d + 0.5d) as bigint)"))
    val cached = graft.Caching.ensureCached(lp)
    val hn = cached.groupBy("nat").agg(max("ctv").as("ct"), max("nv").as("nv"))
      // 0 − sum, not unary minus: Spark's decimal negate rounds to 34
      // significant digits (the safeAbs class, ExactRatio r17) while
      // subtraction is exact at all 38
      .agg((lit(0).cast("decimal(38,0)") - sum(expr("cast(ct as decimal(38,0))" +
        " * cast(floor(ln(cast(ct as double) / cast(nv as double))" +
        " * 1000000.0d + 0.5d) as bigint)"))).cast("decimal(38,0)").as("hnv"))
    val mi = cached.agg(max("nv").as("n"),
      countDistinct("seg").as("n_seg"), countDistinct("nat").as("n_nat"),
      sum(expr("cast(o as decimal(38,0)) * mi_e6")).cast("decimal(38,0)").as("smi"))
    val base = mi.crossJoin(hn)
      .withColumn("ua", expr(ExactRatio.safeAbs(
        ExactRatio.SparkF, "cast(smi as decimal(38,0))")))
      .withColumn("ub", expr("greatest(cast(hnv as decimal(38,0)), cast(1 as decimal(38,0)))"))
    ExactRatio.applySparkDomain(base,
        ExactRatio.ratE6Stages(ExactRatio.SparkF, "ua", "ub", "u0_e6"))
      .select(col("n"), col("n_seg"), col("n_nat"),
        expr(ExactRatio.modDigest(ExactRatio.SparkF, "smi")).as("smi_m9"),
        expr(ExactRatio.modDigest(ExactRatio.SparkF, "hnv")).as("hn_m9"),
        expr(s"cast(${ExactRatio.signInt("smi")} * u0_e6 as bigint)").as("u_e6"))
  }

  /** First-significant-digit (Benford) profile of l_extendedprice — the
    * classic fabricated-/truncated-data screen a corpus audit runs over
    * monetary and count columns. The digit is extracted from the EXACT
    * integer cents via string head (multiplying by 100 never changes the
    * leading significant digit), so the per-digit counts are engine-exact
    * with no log10 anywhere near the bucketing; expected Benford mass
    * snaps to benford_e6 = floor(1e6·ln(1+1/d)/ln(10)+0.5) (nine fixed
    * data-independent values, identical expression shape) and the share
    * and delta ship as exact integers — no hashed double. Scale: ONE map-combinable aggregate onto a 9-row
    * domain; the windowed total rides the same reduction.
    */
  private val statsBenford = Q("stats_benford",
    s"""WITH b AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM lineitem WHERE l_extendedprice > 0),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d FROM b GROUP BY digit),
       |w AS (SELECT digit, n_d, CAST(sum(n_d) OVER () AS BIGINT) AS n FROM g)
       |SELECT digit, n_d, n,
       |  ${e6(DuckF, "n_d", "n")} AS share_e6,
       |  CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)
       |    / ln(CAST(10 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS benford_e6,
       |  ${e6(DuckF, "n_d", "n")}
       |    - CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)
       |      / ln(CAST(10 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS diff_e6
       |FROM w ORDER BY digit""".stripMargin) { (s, d) =>
    val b = Tables.lineitem(s, d)
      .filter(col("l_extendedprice") > 0)
      .select(expr("cast(substring(cast(cast(floor(l_extendedprice * 100 + 0.5)" +
        " as bigint) as string), 1, 1) as bigint)").as("digit"))
    val g = b.groupBy("digit").agg(count(lit(1)).as("n_d"))
    g.withColumn("n", sum("n_d").over(Window.partitionBy()))
      .withColumn("share_e6",
        expr(e6(SparkF, "n_d", "n")))
      .withColumn("benford_e6",
        expr("cast(floor(ln(1.0d + 1.0d / digit) / ln(10.0d) * 1000000 + 0.5) as bigint)"))
      .select(col("digit"), col("n_d"), col("n"), col("share_e6"),
        col("benford_e6"),
        expr("share_e6 - benford_e6").as("diff_e6"))
      .orderBy("digit")
  }

  /** Wald–Wolfowitz runs test on each type's daily-count series — the
    * randomness screen closing the drift suite: too FEW runs of
    * above/below-median days means trend/clustering (what
    * [[eventsAutocorr]] sees as momentum), too MANY means oscillation;
    * both invalidate an i.i.d. assumption before a drift threshold is
    * trusted. All-integer end to end: the per-type doubled median of the
    * daily counts comes from the cross-multiplied 2·cw ≥ tw idiom (an
    * exact BIGINT — ties AT the median are dropped, the standard
    * treatment, by an exact sign comparison); runs are 1 + Σ(sign ≠
    * lag(sign)) over the day order; and the normal-approximation z² is
    * an exact rational of (R, n1, n2) — z² = A²·(n−1) / (2·n1·n2·
    * (2·n1·n2 − n)) with A = (R−1)·n − 2·n1·n2 — shipped as z2_e6 +
    * z_sign via ExactRatio. Magnitude contract (ADVICE r15 correction):
    * the numerator A²·(n−1) ~ 4n⁵ leaves int64 near ~4.6k observed days
    * — which is exactly why BOTH engines FORM it in 128-bit (HUGEINT /
    * DECIMAL(38,0), exact to n ~ 4·10⁶ days, loud overflow beyond) and
    * the division runs through ratE6Stages' shift ladder, whose ≤12-digit
    * operand budget keeps every Spark `div` quotient inside int64 at any
    * magnitude. Scale: ONE map-combinable
    * daily count is the only O(data) stage; the median windows, sign
    * lag and moments all run on the |types|×|days| domain over
    * exchanges on type. Exclusions exact: n1 ≥ 1, n2 ≥ 1 and
    * 2·n1·n2 > n (a one-sided series has no defined variance).
    */
  private val statsRunsTest = Q("stats_runs_test",
    s"""WITH daily AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY event_type, day),
       |dom AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS w
       |  FROM daily GROUP BY event_type, c),
       |cum AS (SELECT event_type, c, w,
       |    CAST(sum(w) OVER (PARTITION BY event_type ORDER BY c) AS BIGINT) AS cw,
       |    CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS tw FROM dom),
       |med AS (SELECT event_type,
       |    CAST(min(CASE WHEN 2 * cw >= tw THEN c END)
       |      + min(CASE WHEN 2 * cw >= tw + 1 THEN c END) AS BIGINT) AS med2
       |  FROM cum GROUP BY event_type),
       |sg AS (SELECT daily.event_type, day,
       |    CASE WHEN 2 * c > med2 THEN 1 ELSE -1 END AS sgn
       |  FROM daily JOIN med ON med.event_type = daily.event_type
       |  WHERE 2 * c <> med2),
       |rl AS (SELECT event_type, sgn,
       |    lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS psgn
       |  FROM sg),
       |m AS (SELECT event_type,
       |    CAST(1 + sum(CASE WHEN psgn IS NOT NULL AND sgn <> psgn
       |      THEN 1 ELSE 0 END) AS BIGINT) AS r,
       |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM rl GROUP BY event_type)
       |SELECT event_type, n_obs, n_runs, n_above, n_below, z2_e6,
       |  ${ExactRatio.signInt("za")} AS z_sign
       |FROM ${ExactRatio.applyDuck(
        """SELECT event_type, n1 + n2 AS n_obs, r AS n_runs,
          |  n1 AS n_above, n2 AS n_below,
          |  CAST((r - 1) * (n1 + n2) - 2 * n1 * n2 AS HUGEINT) AS za,
          |  CAST((r - 1) * (n1 + n2) - 2 * n1 * n2 AS HUGEINT)
          |    * ((r - 1) * (n1 + n2) - 2 * n1 * n2) * (n1 + n2 - 1) AS zn,
          |  CAST(2 AS HUGEINT) * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) AS zd
          |FROM m
          |WHERE n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 > n1 + n2""".stripMargin,
        ExactRatio.ratE6Stages(
          ExactRatio.DuckF, "abs(zn)", "zd", "z2_e6"))} q
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .agg(count(lit(1)).as("c"))
    val perT = Window.partitionBy("event_type")
    // doubled median of the COUNTS from their (type, c) domain — the
    // WeightedQuantiles idiom inlined because med2 = lo + hi needs both
    // middles, then joined back (|types|-row broadcast)
    val cum = daily.groupBy("event_type", "c").agg(count(lit(1)).as("w"))
      .withColumn("cw", sum("w").over(perT.orderBy("c")))
      .withColumn("tw", sum("w").over(perT))
    val med = cum.groupBy("event_type")
      .agg((min(when(expr("2 * cw >= tw"), col("c"))) +
        min(when(expr("2 * cw >= tw + 1"), col("c")))).as("med2"))
    val sg = daily.join(broadcast(med), "event_type")
      .filter(expr("2 * c <> med2"))
      .select(col("event_type"), col("day"),
        expr("case when 2 * c > med2 then 1 else -1 end").as("sgn"))
    val m = sg
      .withColumn("psgn", lag("sgn", 1).over(perT.orderBy("day")))
      .groupBy("event_type")
      .agg((lit(1) + sum(when(expr("psgn is not null and sgn <> psgn"), 1)
          .otherwise(0))).cast("bigint").as("r"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"))
    val base = m.filter(expr("n1 >= 1 AND n2 >= 1 AND 2 * n1 * n2 > n1 + n2"))
      .select(col("event_type"),
        expr("n1 + n2").as("n_obs"), col("r").as("n_runs"),
        col("n1").as("n_above"), col("n2").as("n_below"),
        expr("cast((r - 1) * (n1 + n2) - 2 * n1 * n2 as decimal(38,0))").as("za"),
        expr("cast((r - 1) * (n1 + n2) - 2 * n1 * n2 as decimal(38,0))" +
          " * ((r - 1) * (n1 + n2) - 2 * n1 * n2) * (n1 + n2 - 1)").as("zn"),
        expr("cast(2 as decimal(38,0)) * n1 * n2" +
          " * (2 * n1 * n2 - (n1 + n2))").as("zd"))
    ExactRatio.applySparkDomain(base,
        // zn = za² · (n−1) ≥ 0 by construction, but Spark's bare decimal
        // abs is the lossy decimal128 negate path on negatives (r17,
        // ExactRatio.safeAbs) — route through the safe form for defense
        ExactRatio.ratE6Stages(ExactRatio.SparkF,
          ExactRatio.safeAbs(ExactRatio.SparkF, "zn"), "zd", "z2_e6"))
      .select(col("event_type"), col("n_obs"), col("n_runs"),
        col("n_above"), col("n_below"), col("z2_e6"),
        expr(ExactRatio.signInt("za")).as("z_sign"))
      .orderBy("event_type")
  }

  /** Benford χ² goodness-of-fit over l_extendedprice's first significant
    * digits — the TEST STATISTIC on top of [[statsBenford]]'s profile
    * (the profile says how each digit deviates; this collapses the nine
    * deviations into the one number an audit thresholds, df = 8). The
    * digit counts are engine-exact (string-head of exact cents, the
    * statsBenford discipline); each cell's (o − n·p)²/(n·p) is an EXACT
    * integer rational of (o, n, benford_e6) — with p snapped once to the
    * nine data-independent benford_e6 constants (the statsBenford
    * columns; MarginSpec-gated), the cell is
    * (1e6·o − n·be6)² / (1e6·n·be6), floor-scaled ×10⁶ through
    * ExactRatio's shift-guarded ladder and summed exactly. No
    * data-DEPENDENT double ever reaches the hash (ADVICE r15: the first
    * cut floor-snapped a per-cell libm chain, re-importing the fragile
    * class this suite had just evicted). Scale: ONE map-combinable count
    * onto the 9-digit domain; everything after runs on 9 rows.
    */
  private val statsBenfordChisq = Q("stats_benford_chisq", {
    val be6 = "CAST(floor(ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit)" +
      " / ln(CAST(10 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    val inner =
      s"""SELECT digit, n,
         |  (CAST(1000000 AS HUGEINT) * n_d - CAST(n AS HUGEINT) * $be6)
         |    * (CAST(1000000 AS HUGEINT) * n_d - CAST(n AS HUGEINT) * $be6) AS nc,
         |  CAST(1000000 AS HUGEINT) * n * $be6 AS dc
         |FROM w""".stripMargin
    s"""WITH b AS (SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
       |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM lineitem WHERE l_extendedprice > 0),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d FROM b GROUP BY digit),
       |w AS (SELECT digit, n_d, CAST(sum(n_d) OVER () AS BIGINT) AS n FROM g)
       |SELECT CAST(max(n) AS BIGINT) AS n,
       |  CAST(count(*) AS BIGINT) AS n_digits,
       |  CAST(sum(c_e6) AS BIGINT) AS chi2_e6
       |FROM ${ExactRatio.applyDuck(inner,
          ExactRatio.ratE6Stages(ExactRatio.DuckF, "nc", "dc", "c_e6"))} q""".stripMargin
  }) { (s, d) =>
    val be6 = "cast(floor(ln(1.0d + 1.0d / digit) / ln(10.0d) * 1000000 + 0.5) as bigint)"
    val g = Tables.lineitem(s, d)
      .filter(col("l_extendedprice") > 0)
      .select(expr("cast(substring(cast(cast(floor(l_extendedprice * 100 + 0.5)" +
        " as bigint) as string), 1, 1) as bigint)").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_d"))
    val w = g.withColumn("n", sum("n_d").over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        expr(s"(cast(1000000 as decimal(38,0)) * n_d - cast(n as decimal(38,0)) * $be6)" +
          s" * (cast(1000000 as decimal(38,0)) * n_d - cast(n as decimal(38,0)) * $be6)").as("nc"),
        expr(s"cast(1000000 as decimal(38,0)) * n * $be6").as("dc"))
    ExactRatio.applySparkDomain(w,
        ExactRatio.ratE6Stages(ExactRatio.SparkF, "nc", "dc", "c_e6"))
      .agg(max("n").as("n"), count(lit(1)).as("n_digits"),
        sum("c_e6").as("chi2_e6"))
  }

  /** Inter-arrival-time distribution per event type — the traffic-shape
    * profile (bursty vs steady) that sizes streaming watermarks and
    * sessionization gaps before they are hard-coded. Gaps are exact
    * microsecond BIGINTs between consecutive events WITHIN a (type, day)
    * partition — day-bounding keeps every lag partition's size capped by
    * one day's traffic (the scale answer: a per-type-only ordering would
    * sort a type's entire history in one task), and the day boundary
    * discards exactly the overnight gaps a watermark never needs. The
    * gap multiset is tie-safe (sorted-multiset gaps are invariant under
    * equal-timestamp permutations; event_id tie-break makes the lag
    * itself deterministic anyway, the session_stats rule). Quartiles are
    * the agg_weighted_median idiom: cumulative/total WINDOW sums over
    * the (type, gap) DOMAIN table, lower-quartile picked by exact
    * integer cross-multiplication — no interpolation, no doubles
    * anywhere in this key. */
  private val eventsInterarrival = Q("events_interarrival",
    s"""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
       |m AS (SELECT event_type, ts_us - lag(ts_us) OVER
       |      (PARTITION BY event_type, day ORDER BY ts_us, event_id) AS gap
       |  FROM e),
       |gd AS (SELECT event_type, CAST(gap AS BIGINT) AS gap,
       |    CAST(count(*) AS BIGINT) AS w FROM m WHERE gap IS NOT NULL
       |  GROUP BY event_type, gap),
       |c AS (SELECT event_type, gap, w,
       |    CAST(sum(w) OVER (PARTITION BY event_type ORDER BY gap) AS BIGINT) AS cw,
       |    CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS tw FROM gd)
       |SELECT event_type, CAST(max(tw) AS BIGINT) AS n_gaps,
       |  CAST(sum(gap * w) AS BIGINT) AS gap_us_sum,
       |  CAST(min(gap) AS BIGINT) AS min_us,
       |  CAST(min(CASE WHEN 4 * cw >= tw THEN gap END) AS BIGINT) AS q25_us,
       |  CAST(min(CASE WHEN 2 * cw >= tw THEN gap END) AS BIGINT) AS q50_us,
       |  CAST(min(CASE WHEN 4 * cw >= 3 * tw THEN gap END) AS BIGINT) AS q75_us,
       |  CAST(max(gap) AS BIGINT) AS max_us
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(col("event_type"), col("event_id"),
      col("ts_us"), expr("cast(ts_us div 86400000000 as bigint)").as("day"))
    val m = e.withColumn("gap", col("ts_us") -
        lag("ts_us", 1).over(Window.partitionBy("event_type", "day")
          .orderBy("ts_us", "event_id")))
      .filter(col("gap").isNotNull)
    // WeightedQuantiles owns the cumulative frame; the extra sum/min/max
    // aggregates compose in the same group-by (one exchange, one pass)
    import graft.operators.WeightedQuantiles
    val c = WeightedQuantiles.cumulated(
      m.select(col("event_type"), col("gap"), lit(1L).as("one")),
      "event_type", "gap", "one")
    c.groupBy("event_type").agg(
        max("tw").as("n_gaps"),
        sum(expr("gap * w")).as("gap_us_sum"),
        min("gap").as("min_us"),
        WeightedQuantiles.quantileAgg("gap", 1, 4).as("q25_us"),
        WeightedQuantiles.quantileAgg("gap", 1, 2).as("q50_us"),
        WeightedQuantiles.quantileAgg("gap", 3, 4).as("q75_us"),
        max("gap").as("max_us"))
      .orderBy("event_type")
  }

  /** Seasonal-naive forecast backtest — the zero-parameter baseline every
    * traffic forecast must beat: predict a (type, day)'s event count with
    * the count seven days earlier, score with exact-integer MAE over the
    * days where both sides exist. The fact table collapses FIRST through
    * one combinable count onto the bounded (type, day) domain; the lag-7
    * pairing is then an equi-self-join of that tiny aggregate on
    * (event_type, day = day + 7) — exact calendar alignment, which a
    * lag(7) window over OBSERVED days would get wrong whenever a day is
    * silent. The Spark side does the pairing WITHOUT a self-join (a
    * self-join of the aggregate re-plans the whole scan+agg on both
    * sides — ReuseExchange does not fire across the +7 projection):
    * each (type, day, n) row explodes into an ACTUAL contribution at
    * day and a PREDICTION contribution at day+7, one more combinable
    * aggregate folds them back per (type, day), and rows holding both
    * sides are exactly the equi-join's matches — ONE scan, zero joins.
    * Everything on the hash surface is a BIGINT (counts, |err| sums,
    * maxima); MAE ships as mae_e6 = floor(1e6·Σ|err|/n) — exact integers with identical
    * shape on both engines. At 100 TB the domain stays |types| × |days|
    * regardless of row count — the one scan is the only data-bound
    * term. */
  private val forecastSeasonalNaive = Q("forecast_seasonal_naive",
    s"""WITH e AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
       |c AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
       |  FROM e GROUP BY event_type, day)
       |SELECT a.event_type,
       |  CAST(count(*) AS BIGINT) AS n_days,
       |  CAST(sum(a.n) AS BIGINT) AS actual_sum,
       |  CAST(sum(abs(a.n - b.n)) AS BIGINT) AS abs_err_sum,
       |  CAST(max(abs(a.n - b.n)) AS BIGINT) AS max_abs_err,
       |  ${e6(DuckF, "sum(abs(a.n - b.n))", DuckF.bigCast("count(*)"))} AS mae_e6
       |FROM c a JOIN c b
       |  ON a.event_type = b.event_type AND a.day = b.day + 7
       |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin) { (s, d) =>
    val c = Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val paired = c
      .select(col("event_type"), explode(expr(
        "array(named_struct('aday', day, 'act', n," +
          " 'pred', cast(null as bigint))," +
          " named_struct('aday', day + 7L, 'act', cast(null as bigint)," +
          " 'pred', n))")).as("cb"))
      .select(col("event_type"), col("cb.aday"), col("cb.act"),
        col("cb.pred"))
      .groupBy("event_type", "aday")
      .agg(max("act").as("n_act"), max("pred").as("n_pred"))
      .filter(col("n_act").isNotNull && col("n_pred").isNotNull)
    paired.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_act")).as("actual_sum"),
        sum(abs(col("n_act") - col("n_pred"))).as("abs_err_sum"),
        max(abs(col("n_act") - col("n_pred"))).as("max_abs_err"),
        expr(e6(SparkF, "sum(abs(n_act - n_pred))", SparkF.bigCast("count(1)")))
          .as("mae_e6"))
      .orderBy("event_type")
  }

  /** Brown–Forsythe / Levene variance-homogeneity test across event
    * types — the companion [[statsAnova]] needs before its F is taken at
    * face value (ANOVA assumes equal group variances; BF tests exactly
    * that by running the SAME one-way F on absolute deviations from each
    * group's MEDIAN — robust to the heavy tails a mean-centered Levene
    * isn't). Exactness: values snap to cents; the per-group doubled
    * median med2 = lower-middle + upper-middle is an exact BIGINT from
    * the agg_weighted_median cross-multiplied idiom (2·cw ≥ tw / ≥ tw+1
    * — no interpolation, no doubles); deviations z = |2·vc − med2| are
    * exact integers, and the F machinery is the ANOVA tail shared with
    * [[statsAnova]] ([[anovaSpark]] / [[anovaDuck]]). Scale:
    * ONE combinable aggregate onto the (type, cent) domain is the only
    * O(data) stage; the median windows, the deviation projection and
    * both moment aggregates all run on that bounded domain over one
    * exchange on type (plus the |types|-row total window, allowlisted).
    */
  private val statsLevene = Q("stats_levene",
    anovaDuck(s"""WITH b AS (SELECT event_type AS g,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
       |dom AS (SELECT g, vc, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY g, vc),
       |cum AS (SELECT g, vc, c,
       |    CAST(sum(c) OVER (PARTITION BY g ORDER BY vc) AS BIGINT) AS cw,
       |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS tw FROM dom),
       |zc AS (SELECT g, c,
       |    abs(2 * vc - (min(CASE WHEN 2 * cw >= tw THEN vc END) OVER (PARTITION BY g)
       |      + min(CASE WHEN 2 * cw >= tw + 1 THEN vc END) OVER (PARTITION BY g))) AS z
       |  FROM cum),
       |gm AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng,
       |    sum(CAST(c AS HUGEINT) * z) AS sg,
       |    sum(CAST(c AS HUGEINT) * z * z) AS ssg FROM zc GROUP BY g)""".stripMargin)) { (s, d) =>
    val dom = Tables.events(s, d)
      .select(col("event_type").as("g"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("vc"))
      .groupBy("g", "vc").agg(count(lit(1)).as("c"))
    val perG = Window.partitionBy("g")
    val cum = dom
      .withColumn("cw", sum("c").over(perG.orderBy("vc")))
      .withColumn("tw", sum("c").over(perG))
    val zc = cum
      .withColumn("m2",
        min(when(expr("2 * cw >= tw"), col("vc"))).over(perG) +
          min(when(expr("2 * cw >= tw + 1"), col("vc"))).over(perG))
      .select(col("g"), col("c"), expr("abs(2 * vc - m2)").as("z"))
    anovaSpark(zc.groupBy("g").agg(sum("c").as("ng"),
      sum(expr("cast(c as decimal(38,0)) * z")).as("sg"),
      sum(expr("cast(c as decimal(38,0)) * z * z")).as("ssg")))
  }

  /** Fano factor (variance-to-mean ratio) of the daily event count per
    * type — the burstiness screen completing the drift suite: Poisson
    * traffic sits at 1, clumped/bursty ingest far above, metronomic
    * load far below; alongside [[eventsAutocorr]] it tells a watermark
    * tuner whether spikes are momentum or noise. Daily counts are
    * BIGINTs, var_n2 = n·Σc² − (Σc)² ships as its digest var_m9 and the
    * ratio as fano_e6 = floor(1e6·var_n2/(n·Σc)) via ExactRatio.e6 —
    * no pre-shift, since the Fano factor stays far inside e6's int64
    * precondition (exactness contract: [[ExactRatio]]). Scale: ONE
    * map-combinable count onto the (type, day) domain is the only
    * O(data) stage; the moments are a second combinable aggregate on
    * the |types|×|days| table. Degenerate guard exact: n ≥ 2 days and
    * a positive total.
    */
  /** n·Σc² − (Σc)² = n² × the daily-count variance. */
  private def fanoVar(f: ExactRatio.Flavor) = ExactRatio.coMoment(f, "n", "scc", "sc", "sc")

  private val eventsBurstiness = Q("events_burstiness",
    s"""WITH daily AS (SELECT event_type,
       |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY event_type, day),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    ${ExactRatio.bigSum(DuckF, "c")} AS sc,
       |    ${ExactRatio.bigSum(DuckF, "c * c")} AS scc
       |  FROM daily GROUP BY event_type)
       |SELECT event_type, n, CAST(sc AS BIGINT) AS total,
       |  ${ExactRatio.modDigest(DuckF, fanoVar(DuckF))} AS var_m9,
       |  ${e6(DuckF, fanoVar(DuckF), s"${DuckF.bigCast("n")} * sc")} AS fano_e6
       |FROM m WHERE n >= 2 AND sc > 0
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr("cast(ts_us div 86400000000 as bigint)").as("day"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr(ExactRatio.bigSum(SparkF, "c")).as("sc"),
        expr(ExactRatio.bigSum(SparkF, "c * c")).as("scc"))
      .filter(col("n") >= 2 && col("sc") > 0)
      .select(col("event_type"), col("n"),
        expr("cast(sc as bigint)").as("total"),
        expr(ExactRatio.modDigest(SparkF, fanoVar(SparkF))).as("var_m9"),
        expr(e6(SparkF, fanoVar(SparkF), s"${SparkF.bigCast("n")} * sc")).as("fano_e6"))
      .orderBy("event_type")
  }

  /** Kendall's tau-b between per-nation order volume and revenue — the
    * rank-correlation complement to stats_spearman that is defined purely
    * by concordant/discordant PAIR counts, so every term on the hash
    * surface is an exact integer: the fact tables collapse through one
    * combinable aggregate onto the 25-nation domain (count + cents sum in
    * DECIMAL(38,0)), and the O(|domain|²) pair enumeration is a
    * self-join of that 25-row frame on nationkey < nationkey — 300
    * pairs whatever the fact-row count, the same bounded-domain argument
    * as stats_cramers_v's contingency table. The domain is cached
    * (Caching.ensureCached), so the pair join's two sides and the n_groups
    * count all read the 25-row cache and the fact join+agg executes a
    * single time; the bounded CartesianProduct runs on the CACHED frame
    * (the dedup_embedding bounded-BNLJ precedent). Pairwise tie counts equal
    * the Σ t(t−1)/2 group form identically, so tau-b's denominator
    * (n0−tx)(n0−ty) is exact integer arithmetic; tau-b ships as tau2_e6 + tau_sign —
    * ExactRatio's exact integer rational over those integers, so no
    * double is hashed on either engine. */
  private val statsKendallTau = Q("stats_kendall_tau",
    s"""WITH g AS (SELECT c_nationkey AS nk,
       |    CAST(count(*) AS BIGINT) AS x,
       |    CAST(${ExactRatio.bigSum(DuckF, "floor(o_totalprice * 100 + 0.5)")} AS BIGINT) AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY c_nationkey),
       |p AS (SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS yb
       |  FROM g a JOIN g b ON a.nk < b.nk)
       |SELECT n_groups, n_pairs, nc, nd, tie_x, tie_y, tau2_e6,
       |  ${ExactRatio.signInt("nc - nd")} AS tau_sign
       |FROM ${ExactRatio.applyDuck(
        """SELECT a0.*, nc - nd AS tnum,
          |  greatest(n_pairs - tie_x, 1) AS dxp,
          |  greatest(n_pairs - tie_y, 1) AS dyp
          |FROM (SELECT
          |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_groups,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  CAST(sum(CASE WHEN (ax < bx AND ay < yb) OR (ax > bx AND ay > yb)
          |    THEN 1 ELSE 0 END) AS BIGINT) AS nc,
          |  CAST(sum(CASE WHEN (ax < bx AND ay > yb) OR (ax > bx AND ay < yb)
          |    THEN 1 ELSE 0 END) AS BIGINT) AS nd,
          |  CAST(sum(CASE WHEN ax = bx THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
          |  CAST(sum(CASE WHEN ay = yb THEN 1 ELSE 0 END) AS BIGINT) AS tie_y
          |  FROM p) a0""".stripMargin,
        ExactRatio.r2e6Stages(
          ExactRatio.DuckF, "tnum", "dxp", "dyp", "tau2_e6"))} q""".stripMargin) { (s, d) =>
    // cache the 25-row domain: the pair join reads both sides (and the
    // n_groups count a third) from the cache, so the fact join+agg runs a
    // single time — without the cache the consumers re-run the
    // orders⋈customer aggregate (more written shuffle records)
    val g = graft.Caching.ensureCached(Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("x"),
        expr(ExactRatio.bigSum(SparkF, "floor(o_totalprice * 100 + 0.5)"))
          .cast("bigint").as("y")))
    val p = g.as("a").join(
      g.select(col("nk").as("bnk"), col("x").as("bx"), col("y").as("yb")),
      col("a.nk") < col("bnk"))
      .select(col("a.x").as("ax"), col("a.y").as("ay"),
        col("bx"), col("yb"))
    val conc = expr("(ax < bx and ay < yb) or (ax > bx and ay > yb)")
    val disc = expr("(ax < bx and ay > yb) or (ax > bx and ay < yb)")
    p.agg(count(lit(1)).as("n_pairs"),
        sum(when(conc, 1L).otherwise(0L)).as("nc"),
        sum(when(disc, 1L).otherwise(0L)).as("nd"),
        sum(when(expr("ax = bx"), 1L).otherwise(0L)).as("tie_x"),
        sum(when(expr("ay = yb"), 1L).otherwise(0L)).as("tie_y"))
      .crossJoin(g.agg(count(lit(1)).as("n_groups")))
      .withColumn("tnum", expr("nc - nd"))
      // all-tied degenerate guard (vacuous on the 25-nation domain):
      // greatest(...,1) keeps the ladder's denominator positive with the
      // identical deterministic value on both engines
      .withColumn("dxp", expr("greatest(n_pairs - tie_x, 1)"))
      .withColumn("dyp", expr("greatest(n_pairs - tie_y, 1)"))
      .transform { base =>
        ExactRatio.applySparkDomain(base,
          ExactRatio.r2e6Stages(ExactRatio.SparkF, "tnum", "dxp", "dyp", "tau2_e6"))
      }
      .select(col("n_groups"), col("n_pairs"), col("nc"), col("nd"),
        col("tie_x"), col("tie_y"), col("tau2_e6"),
        expr(ExactRatio.signInt("nc - nd")).as("tau_sign"))
  }

  val all: Seq[Q] = Seq(histogramEquidepth, outlierMad, colEntropy,
    klDivergence, classRebalance, bpePairCounts, scaleWinsorize,
    eventsAnomalyDays, textKeywordExtract, aggApproxPercentile,
    aggQuartilesExact, skewProfile,
    ordersRfm, textCompressibility, driftPsi, bpeApplyMerge, bpeTrain,
    tokenPmi, aggWeightedMedian, statsCramersV, statsKsTest,
    statsCorrMatrix, statsSpearman, eventsAutocorr, statsMannwhitney,
    statsAnova, eventsCusum, statsMutualInfo, statsTheilU, statsBenford,
    eventsInterarrival, forecastSeasonalNaive, statsKendallTau,
    eventsBurstiness, statsLevene, statsBenfordChisq, statsRunsTest)
}
