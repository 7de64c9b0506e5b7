package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache-ownership contract for the dedup/graph operator family.
  *
  * Several operators (`LlmOps.jaccardPairs`, `TextSim.minhashNearDupPairs`,
  * `ConnectedComponents.minLabel` / `alternatingStars`) persist DataFrames:
  *
  *   - INTERMEDIATES the returned frame no longer needs (jaccardPairs'
  *     gram table, CC's per-round label frames) are owned by the operator —
  *     it materializes them in one job (so concurrent consumer stages never
  *     race to populate the cache) and unpersists them before returning.
  *     Callers never see these.
  *   - Everything the RETURNED result still depends on is the CALLER's to
  *     retire. That is the returned frame itself where the operator
  *     materialized it (jaccardPairs' pair graph, minLabel's labels), and
  *     ALSO any cache the returned frame still reads lazily:
  *     `minhashNearDupPairs` returns an UNEXECUTED plan over its cached
  *     gram table, so that cache must outlive the caller's consumption of
  *     the result. Unpersist per-frame when done, or call
  *     `spark.catalog.clearCache()` between queries the way `Verify`/
  *     `Bench` do — nothing uses RDD-level persistence or checkpoints, so
  *     one `clearCache()` always cleans the whole session (asserted in
  *     ScaleSpec "dedup family leaves nothing behind").
  *
  * Composed queries re-enter these operators with identical plans (e.g.
  * `dedup_cluster` after `graph_degree` both build the same pair graph in
  * one session). `ensureCached` makes the operator-side persists idempotent
  * against Spark's plan-keyed SQL cache: re-persisting an already-cached
  * plan is a CacheManager warning and, worse, masks genuine double-cache
  * bugs — looking the plan up first keeps the reuse AND the silence.
  */
object Caching {

  /** The shared cold-branch materialization the pair-graph kernels use:
    * if `result` is not already plan-cached (warm re-entry), pin
    * `intermediate` in ONE job (so the downstream self-join's map stages
    * never race to populate it), materialize `result`, then retire the
    * intermediate. Returns `result` with its materialized row count, or
    * -1 on the warm path, where nothing runs: a warm call touches NOTHING
    * — re-pinning the intermediate would re-run its whole pipeline and
    * leak the persist (the dedup_containment regression ScaleSpec pins).
    *
    * Callers that need the cardinality anyway (`clusterLabels`' edge-count
    * bound) reuse the materialization job instead of re-counting the
    * cached frame, and the intermediate pin is [[pinOnce]] (cold-only): a
    * kernel already pinned AND counted by a warm entry (Bench's untimed
    * kernel warm, a composed consumer) skips the redundant cache-read
    * count job. That relies on every in-repo intermediate being pinned
    * via pinOnce/materializeRetiring (always counted), so a
    * warm-but-unmaterialized intermediate cannot occur here — see
    * [[ensureCached]].
    */
  def materializeRetiring(result: DataFrame,
      intermediate: DataFrame): (DataFrame, Long) = {
    if (result.storageLevel == StorageLevel.NONE) {
      pinOnce(intermediate)
      result.persist()
      val n = result.count()
      intermediate.unpersist(blocking = false)
      (result, n)
    } else (result, -1L)
  }

  /** Persist `df` unless its plan is already in the session's SQL cache
    * (plan-keyed lookup via `Dataset.storageLevel`), then return it. The
    * persist is lazy, so callers must never share a plan with a
    * [[materializeRetiring]] intermediate: that pin is cold-only and
    * would take such a lazily cached, still unpopulated plan as already
    * materialized, and the self-join's map stages would race to populate
    * it.
    */
  def ensureCached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist() else df

  /** Pin `df` COLD-ONLY and materialize the pin in one job; a warm call
    * touches nothing — not even a count. For operators that return an
    * UNEXECUTED plan over the pinned frame (the minhashNearDupPairs
    * shape): one action here plus the consumer's own sink = 2 actions
    * total, vs [[materializeRetiring]]'s 3 — and the r13 forensic showed
    * driver-bench inflation tracks the ACTION count under host
    * contention. The pin is the caller's to retire (clearCache /
    * unpersist, per the ownership contract above).
    */
  def pinOnce(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) { df.persist(); df.count() }
    df
  }
}

/** Session-keyed memo for deterministic driver-side model state (trained
  * codebooks, quantizer centroids, the frames that carry them): one
  * computation per (session, key), so composed queries in one session
  * never re-train identical models — and, for plans bearing UDF
  * closures, actually SHARE the plan (ScalaUDF plan equality is closure
  * identity, so only the literal same DataFrame object can hit the SQL
  * cache).
  *
  * Eviction, three-layer: entries whose session's SparkContext has
  * stopped are dropped on the next access; when the map outgrows
  * [[SessionMemo.MaxEntries]] every OTHER session's entries go first
  * (a service cycling `newSession()` handles over one long-lived
  * context stays bounded); and if the CURRENT session alone has filled
  * the map — one long-lived session touching many (dataset, params)
  * keys — its OLDEST entries (insertion order) are retired until the
  * bound holds, so no single session grows the map without limit. An
  * evicted entry merely re-trains on its next call.
  *
  * Eviction RELEASES what the entry pinned: any `Dataset` reachable
  * through the value (directly, or as a tuple/collection element) is
  * unpersisted, so evicted sessions' cached blocks don't linger in the
  * shared CacheManager until their own clearCache. Stopped sessions
  * skip the walk — their context's blocks died with the executor.
  *
  * The computation runs OUTSIDE the map (get → compute → putIfAbsent),
  * never inside `computeIfAbsent`: training is seconds of Spark jobs,
  * and holding a CHM bin that long would block unrelated sessions'
  * lookups. The race cost is benign by construction — training is
  * deterministic, so a losing duplicate computes the identical value
  * (and its transient caches are released on the spot).
  */
final class SessionMemo[K, V] {
  import scala.jdk.CollectionConverters._
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, K), (V, Long)]()

  /** Unpersist every Dataset reachable through a memo value. Values here
    * are model state: a DataFrame, or a small tuple/Seq carrying a couple
    * of frames plus codebook scalars — the walk is O(model size), never
    * O(data). unpersist on an already-unpersisted frame is a no-op; a
    * dying context can throw from the cache manager, which must not fail
    * the caller's unrelated lookup. */
  private def release(v: Any): Unit = v match {
    case df: org.apache.spark.sql.Dataset[_] =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    case p: Product => p.productIterator.foreach(release)
    case i: Iterable[_] => i.foreach(release)
    case _ => ()
  }

  private def removeReleasing(key: (org.apache.spark.sql.SparkSession, K)): Unit = {
    val removed = m.remove(key)
    if (removed != null) release(removed._1)
  }

  def getOrElseUpdate(s: org.apache.spark.sql.SparkSession, k: K)(f: (org.apache.spark.sql.SparkSession, K) => V): V = {
    m.keySet.removeIf(e => e._1.sparkContext.isStopped)
    val key = (s, k)
    val existing = m.get(key)
    if (existing != null) existing._1
    else {
      val computed = f(s, k)
      if (m.size >= SessionMemo.MaxEntries) {
        m.keySet.asScala.filter(_._1 ne s).toList.foreach(removeReleasing)
        if (m.size >= SessionMemo.MaxEntries) {
          val surplus = m.size - SessionMemo.MaxEntries + 1
          m.entrySet.asScala.toList.sortBy(_.getValue._2).take(surplus)
            .map(_.getKey).foreach(removeReleasing)
        }
      }
      val prev = m.putIfAbsent(key, (computed, seq.incrementAndGet()))
      if (prev != null) { release(computed); prev._1 } else computed
    }
  }
}

object SessionMemo {
  /** Generous for the engine's deployment shapes (a handful of model
    * keys × dataset dirs per session) while bounding session-cycling
    * services; crossing it evicts other sessions' entries. */
  final val MaxEntries = 64
}
