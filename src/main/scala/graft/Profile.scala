package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-tag Spark job and shuffle-record counts, plus a measured window's
  * codegen compile count: the one instrumentation path behind the count
  * gates (`KeyCountsSpec`, GraftSpec's fresh-session compile test) and
  * the audit tool (`tools/keycounts.scala`),
  * and the per-key warm step ([[warmThen]]) every per-key runner uses.
  *
  * A tag is a string held in the [[TagProp]] local property, set around a
  * block with [[tagged]] (`key/build` around a key's construction,
  * `key/run` around its sink in [[measure]]). A job is billed to the tag
  * its `SparkListenerJobStart.properties` carry; a task's shuffle write
  * and read records are billed to the tag its stage was submitted under
  * (`SparkListenerStageSubmitted.properties`). The jobs Spark starts on
  * its own threads for a query (AQE shuffle stages, broadcasts) inherit
  * the caller's local properties, so they are billed to the caller's tag.
  * A job that starts with no tag is billed to [[Untagged]].
  *
  * Reads never poll. The listener bus delivers events in the order they
  * were posted, so [[take]] runs one sentinel job under its own tag and
  * waits until the listener has seen that job start: by then every event
  * of every action that returned before the read has been delivered.
  */
object Profile {

  /** The local property holding the current tag. */
  val TagProp = "graft.profile.tag"

  /** The tag billed for jobs started with no tag set. */
  val Untagged = "(untagged)"

  private val SentinelPrefix = "(drain)#"

  final case class Counts(jobs: Long, shuffleWritten: Long, shuffleRead: Long) {
    def +(o: Counts): Counts =
      Counts(jobs + o.jobs, shuffleWritten + o.shuffleWritten, shuffleRead + o.shuffleRead)
  }
  object Counts { val zero: Counts = Counts(0, 0, 0) }

  /** What constructing a frame (`build`) and sinking it once (`run`)
    * fired, plus the jobs that started untagged in between, and the
    * generated classes compiled over the whole window (`compiles`: the
    * JVM-wide codegen cache misses, driver and executor side alike).
    */
  final case class Measured(build: Counts, run: Counts, untagged: Counts, compiles: Long)

  private final class Listener extends SparkListener {
    val counts = new ConcurrentHashMap[String, Counts]()
    val sentinels = new ConcurrentHashMap[String, CountDownLatch]()
    private val stageTags = new ConcurrentHashMap[Int, String]()

    private def tagOf(p: Properties): String =
      Option(p).flatMap(p => Option(p.getProperty(TagProp))).getOrElse(Untagged)
    private def add(tag: String, c: Counts): Unit =
      if (!tag.startsWith(SentinelPrefix))
        counts.merge(tag, c, (a: Counts, b: Counts) => a + b)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      Option(sentinels.remove(tag)).foreach(_.countDown())
      add(tag, Counts(1, 0, 0))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageTags.put(e.stageInfo.stageId, tagOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTags.remove(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTags.get(e.stageId)
      if (tag != null && e.taskMetrics != null)
        add(tag, Counts(0, e.taskMetrics.shuffleWriteMetrics.recordsWritten,
          e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
  }

  private var installed: Option[(SparkContext, Listener)] = None
  private val drains = new AtomicLong(0)

  /** The context's listener, added on first use (check-then-add, like
    * `operators.TopK.ensureStrategy`).
    */
  private def listener(spark: SparkSession): Listener = synchronized {
    val sc = spark.sparkContext
    installed match {
      case Some((`sc`, l)) => l
      case _ =>
        val l = new Listener
        sc.addSparkListener(l)
        installed = Some(sc -> l)
        l
    }
  }

  /** Run `f` with the current thread's tag set to `tag` (`null` clears
    * it), restoring the previous tag after.
    */
  def tagged[T](spark: SparkSession, tag: String)(f: => T): T = {
    listener(spark)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagProp)
    sc.setLocalProperty(TagProp, tag)
    try f finally sc.setLocalProperty(TagProp, prev)
  }

  /** Remove and return the final counts of `tags` (zero for a tag that
    * fired nothing), after one sentinel job has drained the listener bus.
    */
  def take(spark: SparkSession, tags: String*): Seq[Counts] = {
    val l = listener(spark)
    val sentinel = SentinelPrefix + drains.incrementAndGet()
    val seen = new CountDownLatch(1)
    l.sentinels.put(sentinel, seen)
    tagged(spark, sentinel)(spark.sparkContext.parallelize(Seq(0), 1).count())
    if (!seen.await(60, TimeUnit.SECONDS)) {
      l.sentinels.remove(sentinel)
      throw new IllegalStateException(
        "listener bus did not deliver the drain job within 60 s (events dropped?)")
    }
    tags.map(t => Option(l.counts.remove(t)).getOrElse(Counts.zero))
  }

  /** Generated classes compiled so far in this JVM: one histogram sample
    * per codegen cache miss.
    */
  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Count constructing `df` under tag `name/build` and sinking it once
    * through `noop` under `name/run`, and the generated classes compiled
    * meanwhile.
    */
  def measure(spark: SparkSession, name: String)(df: => DataFrame): Measured = {
    val (b, r) = (s"$name/build", s"$name/run")
    take(spark, b, r, Untagged) // only this window's events count
    val compiles0 = compileCount
    val built = tagged(spark, b)(df)
    tagged(spark, r)(built.write.format("noop").mode("overwrite").save())
    val Seq(cb, cr, cu) = take(spark, b, r, Untagged)
    Measured(cb, cr, cu, compileCount - compiles0)
  }

  /** The one per-key warm step, shared by `Bench.timeKey` (and through it
    * `tools/timekeys.scala`) and [[countKeys]]: clear the cache, run key
    * `k` once through `noop` on `warmDir`, clear the cache again, then run
    * `measure`. The first clear keeps the warm run from reading what the
    * previous key left cached (the pair kernel, and what is memoized
    * against it), so it takes the same path the measured run will. The warm
    * run compiles the generated classes the measured run needs right
    * before it, so the codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * 100 entries) still holds them when `measure` runs, and it fills the
    * key's `SessionMemo` model fits for `warmDir`. A failed warm run is
    * reported on stderr and `measure` still runs.
    */
  def warmThen[T](spark: SparkSession, k: String, warmDir: String)(measure: => T): T = {
    spark.catalog.clearCache()
    try SparkEntry.queries(k)(spark, warmDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[warm] WARM-UP SKIPPED $k ($warmDir): ${e.getMessage}")
    }
    spark.catalog.clearCache()
    measure
  }

  /** The per-key count protocol: each key warmed on `dir` itself by
    * [[warmThen]] (codegen and the `SessionMemo` model fits, so counts do
    * not depend on key order), then counted from an empty cache, so a
    * lazily cached kernel is billed to the key that fills it.
    */
  def countKeys(spark: SparkSession, keys: Seq[String], dir: String): Seq[(String, Measured)] =
    keys.map(k => k -> warmThen(spark, k, dir)(measure(spark, k)(SparkEntry.queries(k)(spark, dir))))
}
