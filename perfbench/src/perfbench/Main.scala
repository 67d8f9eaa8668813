package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Per-run state shared by the workloads: options, the tracer and listener
  * recorder, collected metrics and the correctness ledger. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: Path, val fixture: Option[Path]) {
  val tracer = new Tracer
  val recorder = new Recorder
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) synchronized {
      errors += what
      System.err.println(s"[perfbench] WRONG: $what")
    }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def session(): SparkSession = {
    val spark = graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        dir("checkpoints").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    StateStore.stop()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Run one timed unit; traced units record spans and listener counters.
    * Returns the unit's wall seconds (attach/detach and the bus drain are
    * outside it). */
  def unit(spark: SparkSession, traced: Boolean)(f: => Unit): Double = {
    if (traced) { recorder.attach(spark); tracer.enabled = true }
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    try f
    finally if (traced) tracer.enabled = false
    val dt = (System.nanoTime() - t0) / 1e9
    if (traced) {
      val t1Ms = System.currentTimeMillis()
      recorder.detach(spark)
      tracedWallS += dt
      jobBusyS += recorder.jobBusyS(t0Ms, t1Ms)
      tracedUnits += 1
    }
    dt
  }
  var tracedWallS = 0.0
  var jobBusyS = 0.0
  var tracedUnits = 0

  /** spark.* per traced unit, from the recorder's counters. */
  def engineMetrics(): Unit = if (tracedUnits > 0) {
    val c = recorder.counters
    val n = tracedUnits.toDouble
    def put(k: String, unit: String): Unit =
      metric(k, c.getOrElse(k, 0.0) / n, unit)
    Seq("spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
      "spark.planning_ms" -> "ms", "spark.codegen_compiles" -> "count",
      "spark.codegen_compile_ms" -> "ms", "spark.task_cpu_s" -> "s",
      "spark.task_gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
      "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
      "spark.executions" -> "count", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.tasks_failed" -> "count")
      .foreach { case (k, u) => put(k, u) }
    metric("spark.task_noncpu_s",
      (c.getOrElse("spark.task_run_s", 0.0) - c.getOrElse("spark.task_cpu_s", 0.0)) / n, "s")
    metric("spark.job_busy_s", jobBusyS / n, "s")
    metric("spark.driver_outside_jobs_s", (tracedWallS - jobBusyS) / n, "s")
  }

  /** tracing overhead: traced over untraced median unit time, minus one. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    if (traced.nonEmpty && untraced.nonEmpty)
      metric("harness.tracing_overhead_frac",
        Stats.median(traced) / Stats.median(untraced) - 1, "frac")
}

/** One benchmark workload. The runner calls [[generate]] after set-up
  * (input generation is not set-up time), then [[measure]], which also
  * checks outputs. */
trait Workload {
  def generate(ctx: Ctx, spark: SparkSession): Unit = ()
  def measure(ctx: Ctx, spark: SparkSession): Unit
}

object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (opt.get("selftest").contains("1")) { SelfTest.run(); return }
    val ctx = new Ctx(opt("workload"), opt("seed").toLong,
      opt("seconds").toInt, opt.getOrElse("trace", "0") == "1",
      Paths.get(opt("work")).toAbsolutePath,
      opt.get("fixture").map(Paths.get(_).toAbsolutePath))
    val out = Paths.get(opt("out"))
    // set-up: process start (the launcher's clock, passed in) to a ready
    // graft session; input generation follows, untimed
    val spark = ctx.session()
    ctx.metric("setup_s",
      (System.currentTimeMillis() - opt("start-ms").toLong) / 1e3, "s")
    if (opt.get("setup-only").contains("1")) {
      ctx.stopSession(spark)
      Files.writeString(out, Json.obj(Seq("setup_s" -> ctx.metrics("setup_s")._1)))
      return
    }
    val w: Workload = ctx.workload match {
      case "offline_medallion" => new Offline
      case "query_suite" => new Suite
      case other => sys.error(s"unknown workload: $other")
    }
    val t0 = System.nanoTime()
    w.generate(ctx, spark)
    ctx.notes("input_generation_s") = (System.nanoTime() - t0) / 1e9
    Heap.sample()
    w.measure(ctx, spark)
    Heap.sample()
    ctx.metric("live_heap_mb", Heap.medianMb, "MB")
    ctx.notes("heap_samples_mb") = Heap.samples.toSeq
    if (ctx.trace) {
      ctx.engineMetrics()
      ctx.tracer.write(ctx.work.resolve("spans.json"))
    }
    ctx.stopSession(spark)
    Files.writeString(out, Json.obj(Seq(
      "correct" -> ctx.errors.isEmpty,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "errors" -> ctx.errors.take(20).toSeq,
      "notes" -> ctx.notes.toMap,
      "metrics" -> ctx.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}
