package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.Tables

/** The two batch workloads: their query lists and the recorded results. */
object Workloads {

  /** Query names of a batch workload, from `workloads/<name>.txt`. Fails
    * naming every query the program no longer has, so a rename cannot
    * quietly shrink the workload.
    */
  def batch(home: Path, name: String): Seq[String] = {
    val names = Files.readAllLines(home.resolve(s"workloads/$name.txt")).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"workload $name names queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    require(names.distinct.size == names.size, s"workload $name lists a query twice")
    names
  }

  /** (row count, bit_xor of xxhash64 over all columns) per query, as the
    * seed commit computed them (`expected.tsv`).
    */
  def expected(home: Path): Map[String, (Long, Long)] =
    Files.readAllLines(home.resolve("expected.tsv")).asScala.toSeq
      .filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap
}

/** One query execution: build the DataFrame (`SparkEntry.queries`, which
  * may run eager jobs), then consume every column of its result.
  */
final case class Sample(name: String, wallS: Double, ok: Boolean)

object Batch {

  /** Longest a query may run before its jobs are cancelled and it counts
    * as failed.
    */
  val QueryTimeoutS = 60

  /** What `Bench.consume` does (hash every column of every row into one
    * aggregate), plus the row count, so the result doubles as the check.
    */
  def consume(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  def runQuery(spark: SparkSession, a: Args, tr: Tracer, name: String, pass: Int,
               check: (String, (Long, Long)) => Boolean, cacheProbe: () => Unit): Sample = {
    val fn = SparkEntry.queries(name)
    val group = s"perfbench-$pass-$name"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
    val cancel = watchdog.schedule(
      (() => spark.sparkContext.cancelJobGroup(group)): Runnable,
      QueryTimeoutS.toLong, java.util.concurrent.TimeUnit.SECONDS)
    val t0 = System.nanoTime()
    val res = try {
      tr.span(name, "bench") {
        val df = tr.span("build", "queries")(fn(spark, a.dataDir))
        val r = tr.span("consume", "driver")(consume(df))
        cacheProbe()
        Right(r)
      }
    } catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    cancel.cancel(false)
    spark.sparkContext.clearJobGroup()
    spark.catalog.clearCache()
    val ok = res match {
      case Right(r) => check(name, r)
      case Left(e) => System.err.println(s"[perfbench] $name FAILED: $e"); false
    }
    System.err.println(f"[perfbench] pass $pass $name $wall%.3f s")
    Sample(name, wall, ok)
  }

  def run(a: Args, names: Seq[String]): Result = {
    val (spark, setupS) = Main.setUp(a, Main.slots(a.workload))
    val tr = new Tracer(spark)
    val expected = Workloads.expected(a.home)
    val check: (String, (Long, Long)) => Boolean = { (n, r) =>
      expected.get(n) match {
        case Some(e) if e == r => true
        case e =>
          System.err.println(s"[perfbench] $n MISMATCH: got (rows, xor) $r, expected ${e.getOrElse("no record")}")
          false
      }
    }
    // cache.* : what the program holds in Spark's block manager at the end
    // of each query, before the harness clears it
    var cachePeakMb = 0.0; var cacheBlocks = 0.0
    val cacheProbe: () => Unit = () => if (tr.isOn) {
      val infos = spark.sparkContext.getRDDStorageInfo
      cachePeakMb = math.max(cachePeakMb,
        infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      cacheBlocks = math.max(cacheBlocks, infos.map(_.numCachedPartitions).sum.toDouble)
    }
    val heap = mutable.ArrayBuffer(Main.heapAfterGcMb(spark))
    tr.setOn(a.trace)

    // core.*: direct Tables.* opens, timed in the traced run only
    val tableOpen = if (!a.trace) (0.0, 0.0) else openTables(spark, a, tr)

    def pass(p: Int): (Seq[Sample], Double) = {
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(names)
      val t0 = System.nanoTime()
      val ss = tr.span(s"pass $p", "bench") {
        order.map(n => runQuery(spark, a, tr, n, p, check, cacheProbe))
      }
      (ss, (System.nanoTime() - t0) / 1e9)
    }

    val before = tr.snapshot()
    val (cold, coldS) = pass(0)
    val coldCounters = diff(tr.snapshot(), before)
    heap += Main.heapAfterGcMb(spark)
    System.err.println(f"[perfbench] cold pass $coldS%.2f s")

    // warm passes until the run's seconds are spent, at least one. The
    // traced run makes an untraced, a traced and an untraced one, so the
    // tracing overhead is measured inside one JVM.
    val warm = mutable.ArrayBuffer.empty[(Seq[Sample], Double, Boolean)]
    val layerCounters = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var p = 1
    val minPasses = if (a.trace) 3 else 1
    while (warm.size < minPasses ||
           (elapsed + warm.map(_._2).max) <= a.seconds) {
      // untraced, traced, untraced: a steady warm-up trend across the
      // passes cancels out of the overhead
      val traced = a.trace && p % 2 == 0
      tr.setOn(traced)
      val b = tr.snapshot()
      val (ss, secs) = pass(p)
      if (traced) layerCounters += diff(tr.snapshot(), b)
      warm += ((ss, secs, traced))
      heap += Main.heapAfterGcMb(spark)
      System.err.println(f"[perfbench] warm pass $p ${if (traced) "traced" else ""} $secs%.2f s")
      p += 1
    }
    tr.setOn(false)

    val all = cold ++ warm.flatMap(_._1)
    val failed = all.count(!_.ok)

    def e2e(passes: Seq[(Seq[Sample], Double, Boolean)]): Map[String, Double] = {
      val samples = passes.flatMap(_._1)
      val perQuery = samples.groupBy(_.name).map { case (_, xs) => Main.median(xs.map(_.wallS)) }
      val lat = samples.map(_.wallS * 1000)
      Main.printTail("query samples", lat)
      Map("total_s" -> perQuery.sum, "latency_p50_ms" -> Main.median(lat))
    }
    val plain = e2e(warm.filterNot(_._3).toSeq)
    val result =
      if (!a.trace) Metrics.endToEndResult(all.size, failed, plain ++ Map(
        "setup_s" -> setupS, "cold_pass_s" -> coldS,
        "heap_peak_mb" -> heap.max))
      else {
        val traced = warm.filter(_._3).toSeq
        val layers = layerMetrics(tr, Main.slots(a.workload), traced, layerCounters.toSeq,
          coldCounters) ++ Map(
          "core.session_s" -> setupS,
          "core.table_open_ms" -> tableOpen._1, "core.table_open_jobs" -> tableOpen._2,
          "cache.peak_mb" -> cachePeakMb, "cache.blocks" -> cacheBlocks)
        Trace.writeSpans(tr.spanTree(), a.work.resolve(s"trace/${a.workload}-seed${a.seed}.jsonl"))
        Metrics.perLayerResult(a.workload, all.size, failed,
          layers ++ Metrics.overhead(e2e(traced), plain))
      }
    Main.stop(spark)
    result
  }

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap

  /** Median wall time (ms) of a direct `Tables.*` open, and Spark jobs per
    * open, over a few rounds of every accessor.
    */
  def openTables(spark: SparkSession, a: Args, tr: Tracer): (Double, Double) = {
    val opens: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
      Tables.events, Tables.documents, Tables.embeddings)
    val rounds = 3
    val b = tr.snapshot()
    val ms = tr.span("table opens", "bench") {
      (1 to rounds).flatMap(_ => opens.map { f =>
        val t0 = System.nanoTime()
        tr.span("table open", "core")(f(spark, a.dataDir))
        (System.nanoTime() - t0) / 1e6
      })
    }
    val jobs = diff(tr.snapshot(), b).getOrElse("exec.jobs", 0.0)
    (Main.median(ms), jobs / ms.size)
  }

  /** Per-layer metrics of the traced warm passes, per pass; codegen.* of
    * the cold pass.
    */
  def layerMetrics(tr: Tracer, slots: Int, traced: Seq[(Seq[Sample], Double, Boolean)],
                   counters: Seq[Map[String, Double]],
                   cold: Map[String, Double]): Map[String, Double] = {
    val tree = tr.spanTree()
    val passSpans = tree.filter(s => s.layer == "bench" && s.name.startsWith("pass ") && s.name != "pass 0")
    val n = passSpans.size.toDouble
    val sub = passSpans.flatMap(Trace.subtree(tree, _))
    val byId = tree.map(s => s.id -> s).toMap
    def underBuild(s: Span): Boolean =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).flatten.exists(_.name == "build")
    val jobs = sub.filter(s => s.fromListener && s.name.startsWith("job "))
    val querySpans = sub.filter(s => !s.fromListener && passSpans.exists(_.id == s.parent))
    val c = counters.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / n }
    c.filter(_._1.startsWith("catalyst.")) ++
      Metrics.exec(c, traced.map(_._2).sum / n, slots) ++
      Metrics.self(Trace.selfTimes(tree, passSpans), n) ++ Map(
      "queries.build_s" -> sub.filter(_.name == "build").map(_.dur).sum / 1e9 / n,
      "queries.build_jobs" -> jobs.count(underBuild) / n,
      "codegen.compiles" -> cold.getOrElse("codegen.compiles", 0.0),
      "codegen.compile_s" -> cold.getOrElse("codegen.compile_s", 0.0),
      "codegen.warm_compiles" -> c.getOrElse("codegen.compiles", 0.0),
      "driver.gap_s" -> Trace.gapS(tree, querySpans) / n)
  }

}
