package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Two-sided per-key COUNT gates, both read through [[Profile]] from one
  * warm pass and one counted pass over the union of their keys.
  *
  *  - Spark JOB counts (VERDICT r17 item 5), the action-count twin of
  *    PlansSpec's parquet-scan gate. Job count is the CONTENTION
  *    exposure the code controls: every job boundary is a scheduling
  *    window a loaded driver host taxes (BASELINE r17: with
  *    ambient load ≈ 2, low-job keys inflated ~1.4× while 23-job
  *    orders_rfm inflated 2.6×). Keys = r17's top-20 idle/exposure table.
  *  - SHUFFLE-WRITE records, the data-VOLUME twin. A re-plan can silently
  *    grow them without touching either sibling metric: a lost partial
  *    aggregate, a join that stopped broadcasting, a window that lost its
  *    pre-collapse all change what crosses the wire — and at 100 TB the
  *    wire IS the cost — while scan and job counts stay put. Records, not
  *    bytes: bytes wobble with codec framing; record counts are exact for
  *    a deterministic plan at a fixed shuffle-partition config. Keys = the
  *    top-30 by total shuffle write at the suite config. The magnitudes
  *    are the scale story in miniature: the dedup family's ~81k-record
  *    build is its shingle-explode signature index (linear in grams,
  *    combinable), span/verbatim's ~50-95k run records are gram-level
  *    rows, and nothing is quadratic.
  *
  * Both fail BOTH ways: an increase is a regression, a decrease is a
  * stale baseline — re-audit and record the improvement; the failure
  * lists the drifted keys as ready-to-paste baseline lines.
  *
  * Counting protocol ([[Profile.countKeys]]): warm every key once
  * (codegen, broadcast classes, SessionMemo model fits — the memo is
  * (session, dir)-keyed, so warming here makes the measured pass
  * deterministic regardless of suite order), then per key: clearCache,
  * count what fires while the DataFrame is CONSTRUCTED (model fits,
  * boundary collects, iterative operators' rounds; tag `key/build`) and
  * while it runs once through a noop sink (including AQE per-stage jobs;
  * tag `key/run`).
  *
  * Job counts are AQE-stage counts, so both gates are a function of
  * config and data size. `tools/keycounts.scala` runs the same protocol
  * and prints these baselines at the suite config (sf0.001, local[4],
  * shuffle.partitions=4); counts it prints at other configs, such as the
  * "local[32]/sf0.1 (tools/actioncount)" figures cited below, are
  * expected to differ.
  */
class KeyCountsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  /** (build, run) job baseline, audited 2026-08-15 (r18) at the suite
    * config.
    */
  private val jobs: Map[String, (Int, Int)] = Map(
    "stats_spearman" -> (0, 4),
    "outlier_mad" -> (0, 5),
    // r19 re-audit: pin dropped + df/n2 windows folded into the pair
    // aggregate's diagonal — build jobs 5 -> 0 (no pin count), run
    // 10 -> 12, total 15 -> 12
    "sim_sparse_cosine" -> (0, 12),
    // no construction-time pin count anywhere (Caching keeps only the
    // lazy ensureCached): the cache fill moves into the run, build -> 0.
    // basket_lift (5, 10) -> (0, 16), span_attribution (4, 11) -> (0, 16),
    // text_verbatim_spans (4, 7) -> (0, 10), dedup_simhash (5, 4) -> (0, 8)
    "basket_lift" -> (0, 16),
    // r22 re-audit (VERDICT r21 item 4): literal-centroid map-side argmin
    // replaced the per-round crossJoin(broadcast)+groupBy(vec_id) argmin
    // and the centroid update aggregates off the assignment (no join back
    // to v) — build 17 -> 8, run unchanged; isolated timekey 1.88 -> 1.08
    // in the interleaved A/B (logs/ab_r22_kmeans_cc.log)
    "kmeans_iter" -> (8, 5),
    "span_attribution" -> (0, 16),
    "dedup_simhash" -> (0, 8),
    // r21 re-audit (VERDICT r20 item 3): the three quantile consumers
    // folded into ONE grouped ExactQuantiles pass over the stacked
    // (dim, value) table and the boundary literals replaced the two
    // crossJoin-broadcast quartile subframes — build 9 -> 7 (lazy
    // ensureCached instead of a counted pin; consumers are
    // sequential, nothing races), run 10 -> 4, total 19 -> 11 at
    // local[32]/sf0.1 (tools/actioncount)
    "orders_rfm" -> (7, 4),
    "agg_hash_sum" -> (0, 4),
    "text_verbatim_spans" -> (0, 10),
    "ann_ivfpq" -> (1, 8),
    // r20 new-key audit (tools/actioncount at the suite config): the
    // exact re-rank adds 3 run jobs over ann_ivfpq (shortlist window +
    // the two broadcast sides of the re-score join)
    "ann_ivfpq_rerank" -> (1, 11),
    // r22: localSolve's label-attach cache is no longer counted eagerly
    // (labels are a driver-local LocalRelation — no retirable lineage), so
    // its materialization moved from a build-phase count job into the
    // consumer's own run phase: build 9 -> 5, run 4 -> 6, total 13 -> 11.
    // CC's size test and edge collect are one bounded collect
    // (limit(bound + 1)), not a count and a collect: build 5 -> 3
    "embedding_cluster" -> (3, 6),
    "knn_label_ann" -> (0, 6),
    "token_pmi" -> (0, 12),
    "dedup_embedding" -> (0, 4),
    "normalize_expr" -> (0, 3),
    "text_bigram_logprob" -> (0, 7),
    // the pair kernel pins no gram table and persists the pair frame
    // lazily; the labels' one bounded collect fills it (no gram pin count,
    // no pair count, no CC edge count) — build 12 -> 7
    "dedup_cluster" -> (7, 5),
    "agg_approx_percentile" -> (5, 3),
    "text_keyword_extract" -> (0, 8))

  /** (build, run) shuffle-write-record baseline, audited 2026-08-16
    * (r18) at the suite config; two independent JVMs produced identical
    * counts for every key.
    */
  private val records: Map[String, (Long, Long)] = Map(
    // r20 new-key audit (tools/shufflecount at the suite config): the
    // re-rank's run records are the ADC candidate rows entering the two
    // bounded windows (shortlist + final top-3) — 1.5x ann_ivfpq's 800,
    // never corpus-sized
    "ann_ivfpq_rerank" -> (0L, 1200L),
    "ann_lsh_bucket" -> (0L, 10496L),
    "chunk_overlap" -> (0L, 6672L),
    // no pin counts: every cache fills in the run, so build records -> 0
    // (a count's partial-count records are gone, the kernel's records
    // move to run). corpus_heaps (1, 16555) -> (0, 16556): its bounds
    // frame is no longer cached, its broadcast exchange is reused
    "corpus_heaps" -> (0L, 16556L),
    "corpus_novelty" -> (0L, 10920L),
    "dedup_calibration" -> (0L, 29503L),
    "dedup_chunk" -> (0L, 9426L),
    // the pair family's kernel runs no count: the gram pin's and the pair
    // frame's 4 partial-count records each are gone, 81217 -> 81209. The
    // bounded collect of the CC labels (dedup_cluster, dedup_retention)
    // or of the local edges (graph_degree, dedup_rate_by_source) fills
    // the lazily cached pair frame at build; dedup_ngram_jaccard's sink
    // fills it, so its kernel records move to the run phase
    "dedup_cluster" -> (81209L, 1000L),
    "dedup_containment" -> (0L, 81217L),
    "dedup_fuzzy" -> (0L, 36971L),
    "dedup_incremental" -> (0L, 31926L),
    "dedup_ngram_jaccard" -> (0L, 81217L),
    "dedup_rate_by_source" -> (81209L, 56L),
    "dedup_retention" -> (81209L, 1000L),
    "dedup_strip" -> (0L, 10915L),
    "fn_explode" -> (0L, 32000L),
    "graph_degree" -> (81209L, 516L),
    "inverted_index" -> (0L, 11743L),
    "join_sortmerge" -> (0L, 13500L),
    "knn_label_ann" -> (0L, 18397L),
    "mm_frame_sample" -> (0L, 12686L),
    "outlier_mad" -> (0L, 12003L),
    // r19 re-audit: unpinned single-pass form — all shuffle moves to the
    // run phase; total 14884 -> 15043 (the nc subtree re-shuffles cp, the
    // two deleted full-frame window shuffles pay for it)
    "sim_sparse_cosine" -> (0L, 15043L),
    "span_attribution" -> (0L, 95778L),
    "stats_spearman" -> (0L, 12003L),
    "text_bigram_logprob" -> (0L, 9964L),
    "text_keyword_extract" -> (0L, 26491L),
    "text_ngram_coverage" -> (0L, 16507L),
    "text_tfidf" -> (0L, 11903L),
    "text_verbatim_spans" -> (0L, 50538L),
    "token_vocab" -> (0L, 11898L))

  private lazy val counted: Map[String, Profile.Measured] = {
    val keys = (jobs.keySet ++ records.keySet).toSeq.sorted
    keys.foreach(k => assert(SparkEntry.queries.contains(k), s"unknown key $k"))
    Profile.countKeys(s, keys, d).toMap
  }

  /** Assert `got` equals `expected` for every key, listing the drifted
    * keys as baseline lines to paste (`l` = the literal suffix).
    */
  private def gate[N](what: String, expected: Map[String, (N, N)], l: String)(
      got: Profile.Measured => (N, N)): Unit = {
    val drift = expected.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      val (b, r) = got(counted(k))
      if ((b, r) == want) None
      else Some(s"""    "$k" -> ($b$l, $r$l), // was ${want._1}$l, ${want._2}$l""")
    }
    assert(drift.isEmpty, s"$what drift vs audited baseline (more = regression," +
      s" fewer = stale baseline; re-audit):\n${drift.mkString("\n")}")
  }

  test("per-key Spark job counts match the audited baseline (top exposure keys)") {
    gate("job-count", jobs, "")(m => (m.build.jobs.toInt, m.run.jobs.toInt))
  }

  test("per-key shuffle write records match the audited baseline (top volume keys)") {
    gate("shuffle-record", records, "L")(m => (m.build.shuffleWritten, m.run.shuffleWritten))
  }

  test("no job fires untagged inside a measured window") {
    val untagged = counted.filter(_._2.untagged.jobs != 0)
    assert(untagged.isEmpty,
      s"untagged jobs: ${untagged.map { case (k, m) => k -> m.untagged.jobs }}")
  }

  test("Profile bills a count job at construction to build and its sink jobs to run") {
    def frame = s.range(0, 1000, 1, 4).select((col("id") % 7).as("v"))
    val unpinned = Profile.measure(s, "profile/lazy")(frame)
    val pinned = Profile.measure(s, "profile/pin") {
      val f = frame.persist()
      f.count()
      f
    }
    s.catalog.clearCache()
    assert(unpinned.build == Profile.Counts.zero)
    // the pin's count aggregates one partial row per partition; the sink
    // reads the pinned blocks in one job and shuffles nothing
    assert(pinned.build.jobs > 0 && pinned.build.shuffleWritten == 4)
    assert(pinned.run == Profile.Counts(1, 0, 0))
  }

  test("the pair kernel is built once per cache entry: dedup_retention after dedup_cluster fires no build job") {
    def build(k: String) = Profile.measure(s, s"kernel/$k")(SparkEntry.queries(k)(s, d)).build
    s.catalog.clearCache()
    val cold = build("dedup_cluster")
    assert(cold.jobs > 0)
    assert(build("dedup_retention") == Profile.Counts.zero)
    // clearCache drops the entry and the labels derived from it, so the
    // next consumer runs the kernel's one bounded collect again
    s.catalog.clearCache()
    assert(build("dedup_retention") == cold)
    s.catalog.clearCache()
  }

  test("Profile counts read right after the drain are final") {
    val m = Profile.measure(s, "profile/final")(
      s.range(0, 1000, 1, 4).toDF().repartition(4, col("id")))
    assert(m.run.shuffleWritten == 1000 && m.run.shuffleRead == 1000)
    assert(Profile.take(s, "profile/final/run") == Seq(Profile.Counts.zero))
  }

  test("Profile bills an action run with the tag cleared as untagged") {
    val m = Profile.measure(s, "profile/untagged") {
      Profile.tagged(s, null)(s.range(0, 10, 1, 1).collect())
      s.range(0, 10, 1, 1).toDF()
    }
    assert(m.untagged.jobs == 1 && m.build.jobs == 0)
  }
}
