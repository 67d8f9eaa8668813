package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters for a traced run, from Spark's public listener
  * interfaces: a QueryExecutionListener for the QueryPlanningTracker
  * phases and a SparkListener for job/task metrics and streaming progress.
  *
  * Streaming progress is taken from the SparkListener's onOtherEvent, not
  * from a StreamingQueryListener: graft replays its bounded streams in
  * cloned sessions (Streams.runToMemoryIsolated), and a
  * StreamingQueryListener registered on one session never hears another
  * session's queries, while every session's progress events cross the one
  * shared listener bus.
  *
  * Read counters only after [[drain]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var codegen0 = (0L, 0L)

  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time
    c("spark.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("spark.tasks") += 1
    if (!e.taskInfo.successful) c("spark.tasks_failed") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("spark.task_cpu_s") += m.executorCpuTime / 1e9
      c("spark.task_run_s") += m.executorRunTime / 1e3
      c("spark.task_gc_s") += m.jvmGCTime / 1e3
      c("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("spark.input_bytes") += m.inputMetrics.bytesRead
      c("spark.output_bytes") += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      synchronized { progress += p.progress }
    case _ =>
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    c("spark.executions") += 1
    val ph = qe.tracker.phases
    Seq(QueryPlanningTracker.ANALYSIS -> "spark.analysis_ms",
      QueryPlanningTracker.OPTIMIZATION -> "spark.optimization_ms",
      QueryPlanningTracker.PLANNING -> "spark.planning_ms").foreach {
      case (phase, key) => ph.get(phase).foreach(s => c(key) += s.durationMs)
    }
  }

  /** Start listening on `spark`'s context and session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    codegen0 = codegen
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    val (n, ns) = codegen
    add("spark.codegen_compiles", n - codegen0._1)
    add("spark.codegen_compile_ms", (ns - codegen0._2) / 1e6)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit = BusDrain.drain(spark.sparkContext)

  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Counters summed over every attached interval. */
  def counters: Map[String, Double] = synchronized(c.toMap)

  /** Wall time inside at least one job, within [t0Ms, t1Ms]. */
  def jobBusyS(t0Ms: Long, t1Ms: Long): Double = synchronized {
    Trace.unionNs(jobIntervals.toSeq.map { case (s, e) =>
      (math.max(s, t0Ms), math.min(e, t1Ms)) }) / 1e3
  }

  def progresses: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)
}
