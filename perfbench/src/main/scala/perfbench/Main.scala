package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession
import graft.llm.GraftFunctions

/** Command line of one benchmark run (see run.py, which builds and launches it). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      home: Path, dataDir: String, work: Path)

object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val home = Paths.get(kv("home")).toAbsolutePath
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", home, home.resolve("data/sf0.01").toString, home.resolve(".work"))
    val result = a.workload match {
      case w @ ("relational_floor" | "heavy_tail") => Batch.run(a, Workloads.batch(home, w))
      case "stream_sessionize" => Stream.run(a)
      case other => sys.error(s"unknown workload '$other'")
    }
    // failed_frac is carried by the result's attempted and failed counts:
    // it reads 0 when all is well, so it cannot be a bounded metric
    println(f"[perfbench] failed_frac ${result.failed.toDouble / result.attempted}%.6f " +
      s"(${result.failed} of ${result.attempted} operations)")
    println(result.json)
  }

  /** Cores the benchmark uses: at most 4 (it keeps its footprint small). */
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Task slots. One core is left to the driver, the JIT compiler and the
    * collector (with a task slot on every core, runs were slower and
    * spread more); the stream leaves one more to its generator thread.
    */
  def slots(workload: String): Int =
    math.max(1, cores - (if (workload == "stream_sessionize") 2 else 1))

  /** A fresh session exactly as the program's own factory builds it,
    * with every scratch path inside the benchmark's work directory.
    */
  def session(a: Args, slots: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$slots]", slots)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Build the session the run uses; returns it and the set-up time in
    * seconds, from JVM start (class loading included) until the session
    * is built and the functions are registered.
    */
  def setUp(a: Args, slots: Int): (SparkSession, Double) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(a.work)
    val s = session(a, slots)
    (s, (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }

  /** Heap in use right after a full collection, in MB. Spark hands
    * events to its listeners and removes the blocks of an unpersisted
    * cache asynchronously, so the collection first lets the listener bus
    * drain and then waits a moment for the blocks to be released.
    */
  def heapAfterGcMb(spark: SparkSession): Double = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    System.err.println(f"[perfbench] heap after gc $mb%.1f MB")
    mb
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Value at fraction p (0..1) of the sorted samples, linear interpolation. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
  }

  /** Print the latency tail: the highest percentile with at least ten
    * samples beyond it, capped at p99. It is not a metric: a run has too
    * few independent samples for it (16 warm queries on `heavy_tail`;
    * on the stream the labels of one micro-batch share its emit time).
    */
  def printTail(what: String, latMs: Seq[Double]): Unit = {
    val n = latMs.size
    if (n >= 11) {
      val p = math.min(0.99, (n - 11).toDouble / (n - 1))
      println(f"[perfbench] latency tail p${p * 100}%.1f of $n $what: ${quantile(latMs, p)}%.1f ms")
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally w.close()
  }
}

/** A run's result: the contract's last stdout line. */
final case class Result(attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The metrics every workload reports, by name and unit, in
  * BENCHMARK.json's order.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_pass_s" -> "s", "total_s" -> "s", "latency_p50_ms" -> "ms",
    "heap_peak_mb" -> "MB")

  /** Metrics of the traced run. One a workload cannot have (state.* on a
    * batch workload, queries.* on the stream) reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "core.table_open_ms" -> "ms", "core.table_open_jobs" -> "count",
    "cache.peak_mb" -> "MB", "cache.blocks" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.executions" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s", "codegen.warm_compiles" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.input_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.busy_ratio" -> "ratio",
    "driver.gap_s" -> "s",
    "self.bench_s" -> "s", "self.queries_s" -> "s", "self.driver_s" -> "s",
    "self.catalyst_s" -> "s", "self.exec_s" -> "s", "self.streaming_s" -> "s",
    "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.trigger_p50_ms" -> "ms", "streaming.local1_rows_per_s" -> "1/s",
    "state.rows_max" -> "count", "state.mem_mb_max" -> "MB", "state.rows_updated" -> "count",
    "state.commit_ms" -> "ms", "state.timers_registered" -> "count",
    "state.rows_dropped_late" -> "count",
    "source.lag_rows_end" -> "count", "source.generator_late_ms" -> "ms",
    "overhead.total_s" -> "s", "overhead.latency_p50_ms" -> "ms")

  def endToEndResult(attempted: Long, failed: Long, values: Map[String, Double]): Result =
    Result(attempted, failed, endToEnd.map { case (n, u) => (n, values(n), u) })

  /** The traced run's result; prints its layer table first. */
  def perLayerResult(workload: String, attempted: Long, failed: Long,
                     values: Map[String, Double]): Result = {
    val unknown = values.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    val rows = perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
    println(s"== layer report: $workload ==")
    println(f"${"metric"}%-30s ${"value"}%14s  unit")
    rows.foreach { case (n, v, u) => println(f"$n%-30s $v%14.4f  $u") }
    Result(attempted, failed, rows)
  }

  /** exec.* from one phase's counters; busy = task time / (wall x slots). */
  def exec(c: Map[String, Double], wallS: Double, slots: Int): Map[String, Double] =
    c.filter(_._1.startsWith("exec.")) +
      ("exec.busy_ratio" -> c.getOrElse("exec.task_s", 0.0) / (wallS * slots))

  /** self.<layer>_s from per-layer self times, divided by `per`. */
  def self(times: Map[String, Double], per: Double): Map[String, Double] =
    times.map { case (layer, s) => s"self.${layer}_s" -> s / per }

  /** Tracing overhead: traced minus untraced, per end-to-end metric. */
  def overhead(traced: Map[String, Double], plain: Map[String, Double]): Map[String, Double] =
    Seq("total_s", "latency_p50_ms")
      .map(k => s"overhead.$k" -> (traced(k) - plain(k))).toMap
}
