package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.{Bench, SparkEntry}
import graft.core.{GraftSession, Tables}

/** The one probe over SparkEntry queries. Every mode runs on the session
  * `GraftSession.getOrCreate()` builds (its core count and the engine
  * configuration Bench, Verify and the tests run), over the fixtures in
  * SPARK_GRAFT_SF_DIR (default sf0.1). Query prefixes select as
  * `SparkEntry.select` does: none means every query.
  *
  * {{{
  * runMain graft.tools.Probe jobs <prefix>...
  *   wall time, Spark jobs and driver gaps per query
  * runMain graft.tools.Probe plan <tag> <suffix> <prefix>...
  *   formatted plan to plans/<tag>/<query>_<suffix>.txt, with operator counts
  * runMain graft.tools.Probe scale [dir] [prefix]...
  *   raw-CPU calibration, then the heavy queries on replicated inputs
  * runMain graft.tools.Probe stream
  *   streaming map→count rows/s at 5M, 20M and 40M rows
  * }}}
  */
object Probe {
  private val usage =
    "usage: Probe jobs <prefix>... | plan <tag> <suffix> <prefix>... | " +
      "scale [dir] [prefix]... | stream"

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode: SparkSession => Unit = args.toList match {
      case "jobs" :: prefixes => jobs(_, dir, prefixes)
      case "plan" :: tag :: suffix :: prefixes =>
        plan(_, dir, Paths.get("plans", tag), suffix, prefixes)
      case "scale" :: rest => scale(_, dir, rest)
      case List("stream") => stream
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = GraftSession.getOrCreate()
    try mode(spark) finally spark.stop()
  }

  /** The one harness loop: each selected query in name order, with the
    * session's cache cleared after it (operators persist intermediates).
    */
  private def each[T](spark: SparkSession, prefixes: Seq[String])(
      f: (String, (SparkSession, String) => DataFrame) => T): Seq[T] =
    SparkEntry.select(prefixes).toSeq.sortBy(_._1).map { case (name, fn) =>
      try f(name, fn) finally spark.catalog.clearCache()
    }

  /** One Spark job: id, start and end (epoch ms) and its description. */
  case class Job(id: Int, startMs: Long, endMs: Long, description: String)

  /** One query run: wall clock from building the DataFrame (eager jobs
    * included) to the end of `Bench.consume`, and the jobs it ran.
    */
  case class JobRun(query: String, startMs: Long, endMs: Long, jobs: Seq[Job])

  /** Runs each selected query once and prints its wall time, every job
    * and the driver gaps between jobs (planning, collects, codegen) — the
    * breakdown a bench time needs when the final plan does not explain it.
    */
  def jobs(spark: SparkSession, dir: String, prefixes: Seq[String]): Seq[JobRun] = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = mutable.ArrayBuffer.empty[Job]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(j.jobId, (j.time, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(starts.remove(j.jobId)).foreach { case (t0, d) =>
          done.synchronized { done += Job(j.jobId, t0, j.time, d) }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try each(spark, prefixes) { (name, fn) =>
      done.synchronized(done.clear())
      val t0 = System.currentTimeMillis()
      Bench.consume(fn(spark, dir))
      val t1 = System.currentTimeMillis()
      ColumnBridge.drainListeners(spark)
      val run = JobRun(name, t0, t1, done.synchronized(done.sortBy(_.startMs).toVector))
      printJobs(run)
      run
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def printJobs(r: JobRun): Unit = {
    println(f"[probe] ${r.query} total ${(r.endMs - r.startMs) / 1000.0}%.2f s, " +
      s"${r.jobs.size} jobs")
    var cursor = r.startMs
    r.jobs.foreach { j =>
      val gap = (j.startMs - cursor) / 1000.0
      if (gap > 0.05) println(f"[probe]   (driver gap ${gap}%6.2f s)")
      println(f"[probe]   job ${j.id}%3d @${(j.startMs - r.startMs) / 1000.0}%6.2f " +
        f"${(j.endMs - j.startMs) / 1000.0}%6.2f s  " + j.description.take(90))
      cursor = math.max(cursor, j.endMs)
    }
    val tail = (r.endMs - cursor) / 1000.0
    if (tail > 0.05) println(f"[probe]   (driver tail ${tail}%6.2f s)")
  }

  /** Operators the plan audit counts: shuffles, windows, joins,
    * aggregates and sorts.
    */
  private val audited = Seq("Exchange", "BroadcastExchange", "Window",
    "CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
    "BroadcastHashJoin", "ObjectHashAggregate", "HashAggregate", "Sort")

  /** Node count per operator name, read from the numbered node headers of
    * a formatted explain ("(8) Exchange"), where each node appears once.
    */
  private def operatorCounts(formatted: String): Map[String, Int] =
    "(?m)^\\(\\d+\\) (\\w+)".r.findAllMatchIn(formatted).map(_.group(1))
      .toSeq.groupBy(identity).map { case (op, xs) => op -> xs.size }

  /** Writes each selected query's formatted plan to
    * `out/<query>_<suffix>.txt` — the before/after plan evidence a change
    * commits — and prints its operator counts. Returns (query, plan text,
    * counts).
    */
  def plan(spark: SparkSession, dir: String, out: Path, suffix: String,
           prefixes: Seq[String]): Seq[(String, String, Map[String, Int])] = {
    Files.createDirectories(out)
    each(spark, prefixes) { (name, fn) =>
      val txt = fn(spark, dir).queryExecution.explainString(FormattedMode)
      val file = out.resolve(s"${name}_$suffix.txt")
      Files.write(file, txt.getBytes(UTF_8))
      val counts = operatorCounts(txt)
      println(s"[probe] $name -> $file " +
        audited.map(op => s"$op=${counts.getOrElse(op, 0)}").mkString(" "))
      (name, txt, counts)
    }
  }

  /** The heavy, corpus-bound bench families: graph (q105/q106/q147),
    * linkage (q166/q175), curation + LM (q58/q261/q277), packing
    * (q314/q318), sketches (q191), baskets (q136/q168), ANN (q320), q153.
    */
  private val heavy = Seq("q105_", "q106_", "q147_", "q166_", "q175_",
    "q58_", "q261_", "q277_", "q314_", "q318_", "q191_", "q136_", "q168_",
    "q320_", "q153_")

  /** Core-scaling measurement at a scale where parallelism is visible:
    * sf0.1 is overhead-bound (the suite totals the same at 8 and 32
    * cores), so the heavy families' inputs are replicated
    * SPARK_GRAFT_REPL (default 10) times as DISJOINT key-shifted copies
    * (~sf1 rows; per-key densities unchanged, so the measurement is pure
    * volume throughput) into `args.head` (created on first use, reused so
    * every core count times identical bytes), and each selected query
    * (`args.tail`, default the heavy set) is timed as the minimum over
    * SPARK_GRAFT_SWEEPS (default 2) runs. First prints the raw-CPU
    * calibration line, then one JSON line: {"tool":"core_scale",
    * "cpus":N,"repl":R,"dir":...,"queries":{name:sec,...}}.
    * `tools/core_scale.sh` runs it at 32 and 8 cores and merges the
    * ratios into core_scale.json.
    */
  def scale(spark: SparkSession, dir: String, args: Seq[String]): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    // calibration: a pure hash-aggregate over generated rows, no I/O and
    // no shuffle beyond one row per task — the host's raw scaling
    def cpuRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 640000000L, 1, cpus * 4)
        .select(expr("xxhash64(id, id+1, id+2)").as("h"))
        .agg(expr("bit_xor(h)")).head()
      (System.nanoTime() - t0) / 1e9
    }
    cpuRun()
    println(f"[probe] cpu cpus=$cpus best=${(1 to 3).map(_ => cpuRun()).min}%.2f s")

    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "10").toInt
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "2").toInt.max(1)
    val out = args.headOption.getOrElse(
      Files.createTempDirectory("graft-corescale").toString)
    val rep = spark.range(repl.toLong).select(col("id").as("rep"))
    def replicate(name: String, df: DataFrame, shiftCols: Seq[String]): Unit = {
      val p = s"$out/$name.parquet"
      if (!new java.io.File(p).exists()) {
        shiftCols.foldLeft(df.crossJoin(rep)) { (d, c) =>
          d.withColumn(c, col(c) + col("rep") * lit(100000000L))
        }.drop("rep").write.mode("overwrite").parquet(p)
      }
    }
    replicate("lineitem", Tables.lineitem(spark, dir), Seq("l_orderkey", "l_partkey"))
    replicate("orders", Tables.orders(spark, dir), Seq("o_orderkey", "o_custkey"))
    replicate("customer", Tables.customer(spark, dir), Seq("c_custkey"))
    replicate("documents", Tables.documents(spark, dir), Seq("doc_id"))
    replicate("embeddings", Tables.embeddings(spark, dir), Seq("vec_id"))
    replicate("events", Tables.events(spark, dir), Seq("event_id", "user_id"))
    // part is a DIMENSION of the replicated facts (q136 joins l_partkey
    // -> p_partkey): shifted like them so every fact key still resolves
    replicate("part", Tables.part(spark, dir), Seq("p_partkey"))
    // supplier stays 1x: l_suppkey is not shifted, so the original rows
    // resolve every fact key (replicating would duplicate join results)
    val supplierPath = s"$out/supplier.parquet"
    if (!new java.io.File(supplierPath).exists())
      Tables.supplier(spark, dir).write.mode("overwrite").parquet(supplierPath)
    spark.catalog.clearCache()

    val wanted = if (args.length > 1) args.tail else heavy
    val resolved = SparkEntry.select(wanted).keys
    require(resolved.size == wanted.size, s"prefix resolution: $resolved")
    val times = each(spark, wanted) { (name, fn) =>
      val secs = (1 to sweeps).map { _ =>
        val t0 = System.nanoTime()
        Bench.consume(fn(spark, out))
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        s
      }.min
      System.err.println(f"[probe] $name%-28s $secs%8.2f s ($cpus cores)")
      name -> secs
    }
    val qs = times.map { case (n, s) =>
      "\"" + n + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))
    }.mkString("{", ",", "}")
    println(s"""{"tool":"core_scale","cpus":$cpus,"repl":$repl,""" +
      s""""dir":"$out","queries":$qs}""")
  }

  /** Streaming map→count rows/s at increasing volumes, best of two
    * trials each: the rate's dependence on volume is the first trial's
    * cold-JVM cost plus the per-micro-batch planning and commit cost.
    */
  def stream(spark: SparkSession): Unit =
    for (rows <- Seq(5000000L, 20000000L, 40000000L)) {
      val r1 = Bench.streamingMapCountRps(spark, rows)
      val r2 = Bench.streamingMapCountRps(spark, rows)
      println(s"[probe] rows=$rows rps_best=${math.max(r1, r2).toLong} " +
        s"(t1=${r1.toLong} t2=${r2.toLong})")
    }
}
