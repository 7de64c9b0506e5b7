package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.Q
import graft.queries._

/** Closed-loop benchmark driver over graft's public surface.
  *
  * One JVM, `local[cores]`, one client: each key's DataFrame is built with
  * `Q.fn(session, dataDir)` and drained into a `noop` sink before the next
  * key is built. Timings are taken from outside, around those two calls.
  *
  * Phases, in order, each running every key once in a fresh `newSession()`
  * so no `SessionMemo` model state carries from one to the next:
  *  1. Set-up: one warm pass into the `noop` sink on the small
  *     `warm` tables, which loads classes and starts the JIT. Set-up time
  *     runs from the start of `main`, so it includes the SparkSession
  *     build, to the end of this pass.
  *  2. `passes` timed passes over the keys in the given order.
  *  3. The output check, untimed: every key's result on the `data` tables
  *     is written as parquet to `check` for the DuckDB oracle compare.
  *
  * Raw records go to `--out` as JSON lines; perfbench/run.py turns them into
  * metrics. With `--trace 1`, [[Trace]] also records Spark's listener events.
  *
  * Arguments (all `--name value`): workload, modules (comma list), keys
  * (comma list, already in run order), data, warm (tables of the warm
  * pass), passes, cores, clear (`key` or `pass`), trace (0/1), out,
  * check (output directory).
  */
object Harness {
  // first, so the set-up time includes loading the query modules
  private val clock = new Clock

  val modules: Map[String, Seq[Q]] = Map(
    "Relational" -> Relational.all, "Windows" -> Windows.all,
    "Composites" -> Composites.all, "Scalars" -> Scalars.all,
    "TextSim" -> TextSim.all, "StreamingBatch" -> StreamingBatch.all,
    "Udx" -> Udx.all, "LlmOps" -> LlmOps.all, "TypedOps" -> TypedOps.all,
    "Curation" -> Curation.all, "Pipeline" -> Pipeline.all,
    "Stats" -> Stats.all, "Features" -> Features.all,
    "Corpus" -> Corpus.all, "Retrieval" -> Retrieval.all)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mods = opt("modules").split(",").toSeq
    val unknown = mods.filterNot(modules.contains)
    require(unknown.isEmpty, s"unknown query modules: ${unknown.mkString(",")}")
    val byKey = mods.flatMap(m => modules(m).map(q => q.key -> (m, q))).toMap
    val keys = opt("keys").split(",").toSeq
    val missing = keys.filterNot(byKey.contains)
    require(missing.isEmpty,
      s"keys not in modules ${mods.mkString(",")}: ${missing.mkString(",")}")
    val Seq(passes, cores) = Seq("passes", "cores").map(k => opt(k).toInt)
    val clearPerKey = opt("clear") match {
      case "key" => true
      case "pass" => false
      case c => throw new IllegalArgumentException(s"unknown cache policy '$c'")
    }
    val traced = opt("trace") == "1"
    val workload = opt("workload")
    val dataDir = opt("data")
    val warmDir = opt("warm")
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(opt("out"))))
    def emit(fields: (String, Any)*): Unit = out.println(Json.obj(fields))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(Trace.install(spark, clock)) else None
    emit("ev" -> "meta", "workload" -> workload, "cores" -> cores,
      "keys" -> keys, "modules" -> mods.map(m => m -> modules(m).map(_.key)).toMap)

    val checkDir = opt("check")
    val oracles = keys.flatMap(k => byKey(k)._2.oracle.map(k -> _)).toMap
    type Sink = (SparkSession, String, DataFrame) => Unit
    val noop: Sink = (_, _, df) => df.write.format("noop").mode("overwrite").save()
    // keys without an oracle are built and written a second time, so run.py
    // can check that their schema and row count are stable
    val toParquet: Sink = (session, key, df) => {
      def write(d: DataFrame, name: String) =
        d.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
      write(df, key)
      if (!oracles.contains(key)) write(byKey(key)._2.fn(session, dataDir), s"$key.rerun")
    }

    /** Builds one key's DataFrame over the tables in `dir` and drains it
      * into `sink`; returns the key's raw record. A traced record also
      * carries the analysis time of the built frame: Dataset construction
      * analyses it eagerly, before any action the listeners would see. */
    def runKey(session: SparkSession, key: String, pass: Int, dir: String, sink: Sink) = {
      val (module, q) = byKey(key)
      session.sparkContext.setLocalProperty(Trace.RequestProp, s"$workload:$pass:$key")
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = clock.nowMs
      var tBuilt = Double.NaN
      var analysisS = 0.0
      val error =
        try {
          val df = q.fn(session, dir)
          tBuilt = clock.nowMs
          if (traced)
            analysisS = df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs / 1e3).getOrElse(0.0)
          sink(session, key, df)
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val t1 = clock.nowMs
      session.sparkContext.setLocalProperty(Trace.RequestProp, null)
      Seq("key" -> key, "module" -> module, "pass" -> pass, "t0" -> t0,
        "tb" -> (if (tBuilt.isNaN) t1 else tBuilt), "t1" -> t1, "ok" -> error.isEmpty,
        "error" -> error.getOrElse(""),
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
        "analysis_s" -> analysisS)
    }

    /** Drops every cached table; returns the seconds it took. */
    def clear(session: SparkSession): Double = {
      val t0 = clock.nowMs
      session.catalog.clearCache()
      (clock.nowMs - t0) / 1e3
    }

    /** Runs every key once, in order, over the tables in `dir`, in a fresh
      * session, clearing the cache as the workload's policy says. Only timed
      * passes (`pass >= 0`) emit records; the warm pass is -1 and the check
      * pass -2. Returns the records of all keys. */
    def runPass(pass: Int, dir: String, sink: Sink): Seq[Map[String, Any]] = {
      val session = spark.newSession()
      trace.foreach(_.register(session))
      val timed = pass >= 0
      val t0 = clock.nowMs
      val recs = keys.map { key =>
        val rec = runKey(session, key, pass, dir, sink)
        val cache =
          if (traced && timed) {
            val sc = session.sparkContext
            val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
            Seq("pins" -> sc.getPersistentRDDs.size, "cached_mb" -> bytes / 1048576.0)
          } else Nil
        val clearS = if (clearPerKey) clear(session) else 0.0
        val all = Seq("ev" -> "key") ++ rec ++ cache ++ Seq("clear_s" -> clearS)
        if (timed) emit(all: _*)
        all.toMap
      }
      val clearS = if (clearPerKey) 0.0 else clear(session)
      if (timed)
        emit("ev" -> "pass", "pass" -> pass, "t0" -> t0, "t1" -> clock.nowMs, "clear_s" -> clearS)
      recs
    }
    def failures(recs: Seq[Map[String, Any]]) =
      recs.filter(_("ok") == false).map(r => s"${r("key")}: ${r("error")}")

    // 1. set-up: the warm pass
    runPass(-1, warmDir, noop)
    emit("ev" -> "setup", "s" -> (clock.nowMs - clock.startMs) / 1e3)
    // 2. timed passes
    for (pass <- 0 until passes) runPass(pass, dataDir, noop)
    emit("ev" -> "end", "rss_peak_mb" -> peakRssMb())
    // 3. the output check, whose parquet run.py compares against the
    // DuckDB oracles
    val failed = failures(runPass(-2, dataDir, toParquet))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.obj(oracles.toSeq))
    emit("ev" -> "check", "failed" -> failed)
    // stopping drains the listener bus, so the trace is complete
    spark.stop()
    trace.foreach(_.events.asScala.foreach(e => out.println(e)))
    out.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Using.resource(Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
    }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same time base
  * as the epoch-ms timestamps Spark's listener events carry. */
final class Clock {
  private val baseNs = System.nanoTime()
  val startMs: Double = System.currentTimeMillis().toDouble
  def nowMs: Double = startMs + (System.nanoTime() - baseNs) / 1e6
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
