package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own view of a traced run through its public listener
  * APIs, as raw JSON lines kept in memory until the run ends:
  *
  *  - `exec`: one SQL execution (an action), with the call site Spark
  *    attributes it to (`count at Caching.scala:87`);
  *  - `phases`: the analysis / optimization / planning time of one action's
  *    `QueryExecution.tracker`;
  *  - `job`: one job, with its SQL execution id, the request (key) it ran
  *    for and the ids of all its stages, submitted or skipped;
  *  - `stage`: one completed stage attempt with its aggregated task metrics.
  *
  * Times are epoch milliseconds, the time base of the harness's [[Clock]].
  */
final class Trace private (clock: Clock) extends SparkListener with QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[String]()
  private def emit(fields: (String, Any)*): Unit = events.add(Json.obj(fields))

  /** Adds the per-session QueryExecution listener to `session`. */
  def register(session: SparkSession): Unit = session.listenerManager.register(this)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      emit("ev" -> "exec", "id" -> e.executionId, "root" -> e.rootExecutionId.getOrElse(e.executionId),
        "t0" -> e.time.toDouble, "desc" -> e.description)
    case e: SparkListenerSQLExecutionEnd =>
      emit("ev" -> "exec_end", "id" -> e.executionId, "t1" -> e.time.toDouble)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    emit("ev" -> "job", "id" -> e.jobId, "t0" -> e.time.toDouble,
      "exec" -> prop("spark.sql.execution.id").map(_.toLong),
      "request" -> prop(Trace.RequestProp), "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit("ev" -> "job_end", "id" -> e.jobId, "t1" -> e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val t0 = s.submissionTime.getOrElse(0L).toDouble
    emit("ev" -> "stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "t0" -> t0, "t1" -> s.completionTime.map(_.toDouble).getOrElse(t0),
      "tasks" -> s.numTasks,
      "run_s" -> m.executorRunTime / 1e3, "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_b" -> m.inputMetrics.bytesRead, "input_records" -> m.inputMetrics.recordsRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def secs(name: String) = ph.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    val t0 = if (ph.isEmpty) clock.nowMs else ph.values.map(_.startTimeMs).min.toDouble
    emit("ev" -> "phases", "t0" -> t0, "analysis_s" -> secs("analysis"),
      "optimize_s" -> secs("optimization"), "plan_s" -> secs("planning"))
  }
}

object Trace {
  /** Local property naming the request (`workload:pass:key`) a job ran for. */
  val RequestProp = "perfbench.request"

  def install(spark: SparkSession, clock: Clock): Trace = {
    val t = new Trace(clock)
    spark.sparkContext.addSparkListener(t)
    t
  }

}
