package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.core.Tables
import graft.streaming.StreamingSessionize

/** The generated stream: sf0.1 `events` replayed `Replicas` times, user and
  * event ids shifted per replica, event times jittered inside the
  * watermark delay, in arrival order; only the prefix a run uses is
  * made.
  */
final class Events(val user: Array[Long], val id: Array[Long], val ts: Array[Long]) {
  def size: Int = id.length
  def slice(from: Int, until: Int): Seq[(Long, Long, Long)] =
    (from until until).map(i => (user(i), id(i), ts(i)))
}

/** The sort-and-split sessionize reference (StreamingSpec's): per user,
  * events sorted by (ts, id) and split where the gap exceeds `gapMs`.
  * For every event id: (session ordinal, last event time of its session).
  */
object Reference {
  def labels(ev: Events, n: Int, gapMs: Long): Map[Long, (Long, Long)] =
    (0 until n).groupBy(ev.user(_)).valuesIterator.flatMap { idx =>
      val sorted = idx.sortBy(i => (ev.ts(i), ev.id(i)))
      val sessions = mutable.ArrayBuffer(mutable.ArrayBuffer(sorted.head))
      sorted.tail.foreach { i =>
        if (ev.ts(i) - ev.ts(sessions.last.last) > gapMs) sessions += mutable.ArrayBuffer(i)
        else sessions.last += i
      }
      sessions.zipWithIndex.flatMap { case (s, k) =>
        val last = ev.ts(s.last)
        s.map(i => ev.id(i) -> ((k + 1).toLong, last))
      }
    }.toMap
}

object Stream {
  /** q107's session gap. */
  val GapMs = 1800000L
  /** Watermark delay; the event-time jitter stays below it, so events
    * arrive out of order but none arrives late.
    */
  val DelayMs = 10000L
  val Replicas = 4
  /** Closed-loop backlog, in files of `BatchEvents` events, one per data
    * micro-batch. A drain's first `ColdBatches` micro-batches are its cold
    * part (query start-up and warm-up); the next `DrainBatches`, holding
    * `DrainEvents` events, are its warm part.
    */
  val DrainEvents = 30000
  val DrainBatches = 20
  val ColdBatches = 10
  val BatchEvents: Int = DrainEvents / DrainBatches
  val BacklogEvents: Int = BatchEvents * (ColdBatches + DrainBatches)
  /** Open-loop offered rate (events/s), below the seed commit's drain capacity. */
  val OfferedPerS = 1000
  /** The generator hands due events to the in-memory source at most this
    * often; the source makes one input partition per hand-over.
    */
  val TickMs = 50L
  /** Labels whose session closed in the open loop's first second are not
    * latency samples: they include the new query's start-up.
    */
  val OpenWarmupMs = 1000L

  /** The first `n` events in arrival order: by event time, then replica
    * (in a seeded order), then event id.
    */
  def generate(spark: SparkSession, a: Args, n: Int): Events = {
    import spark.implicits._
    val base = Tables.events(spark, a.home.resolve("data/sf0.1").toString)
      .select(col("user_id"), col("event_id"), (unix_micros(col("ts")) / 1000).cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(x => (x._3, x._2))
    require(n <= base.length * Replicas, s"$n events asked of ${base.length * Replicas}")
    val userStride = base.map(_._1).max + 1
    val idStride = base.map(_._2).max + 1
    val rnd = new scala.util.Random(a.seed)
    val replicaOfRank = rnd.shuffle((0 until Replicas).toVector)
    val (user, id, ts) = (new Array[Long](n), new Array[Long](n), new Array[Long](n))
    var k = 0
    var g = 0
    while (k < n) {
      // base rows g until h share one event time; each replica's copies
      // of them follow in rank order
      var h = g + 1
      while (h < base.length && base(h)._3 == base(g)._3) h += 1
      for (rank <- 0 until Replicas; i <- g until h if k < n) {
        val r = replicaOfRank(rank)
        val (u, e, t) = base(i)
        user(k) = u + r * userStride
        id(k) = e + r * idStride
        ts(k) = t + rnd.nextInt(DelayMs.toInt)
        k += 1
      }
      g = h
    }
    new Events(user, id, ts)
  }

  /** A directory of CSV event files (user, id, epoch ms), the drain's
    * backlog. A file is written under a hidden name and renamed into place,
    * so the source never lists a half-written file; modification times
    * follow the write order, which the file source takes them in.
    */
  final class Input(a: Args, name: String) {
    val dir: Path = a.work.resolve(s"input-$name")
    Main.deleteTree(dir)
    Files.createDirectories(dir)
    private var files = 0
    def add(rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = dir.resolve(f".part-$files%05d.csv")
      Files.write(tmp, rows.map { case (u, id, ts) => s"$u,$id,$ts" }.asJava)
      Files.setLastModifiedTime(tmp, FileTime.fromMillis(BaseMtimeMs + files * 1000L))
      Files.move(tmp, dir.resolve(f"part-$files%05d.csv"), StandardCopyOption.ATOMIC_MOVE)
      files += 1
    }
  }
  private val BaseMtimeMs = System.currentTimeMillis() - 3600000L

  /** A started sessionize query over `source` (columns k, id, ts) with a
    * fresh checkpoint; every emitted label is kept with the nanoTime its
    * micro-batch ended. `append` adds events to the source.
    */
  final class Running(spark: SparkSession, a: Args, name: String, source: DataFrame,
                      append: Seq[(Long, Long, Long)] => Unit) {
    import spark.implicits._
    val emitted = new ConcurrentLinkedQueue[(Long, Array[(Long, Long, Long)])]()
    private val ckpt = a.work.resolve(s"ckpt-$name")
    Main.deleteTree(ckpt)
    private val grouped = source
      .withWatermark("ts", s"$DelayMs milliseconds")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3.getTime))
    val query = StreamingSessionize.labeled(grouped, GapMs)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: Dataset[(Long, Long, Long)], _: Long) =>
        val rows = b.collect()
        emitted.add((System.nanoTime(), rows)); ()
      }.start()

    /** Close every open session with an event far past the data, then stop. */
    def flushAndStop(lastTs: Long): Unit = {
      append(Seq((-1L, -1L, lastTs + 10 * GapMs)))
      query.processAllAvailable()
      query.stop()
      Main.deleteTree(ckpt)
    }

    def labels: Seq[(Long, Long, Long)] =
      emitted.asScala.toSeq.flatMap(_._2).filter(_._1 >= 0)
  }

  /** Lost, duplicate and mislabelled events against the reference. */
  def mismatches(got: Seq[(Long, Long, Long)], ref: Map[Long, (Long, Long)]): Long = {
    val byId = got.groupBy(_._2)
    val lost = ref.keys.count(k => !byId.contains(k))
    val dup = byId.valuesIterator.map(_.size - 1).sum
    val wrong = byId.count { case (k, ls) => ref.get(k).forall(_._1 != ls.head._3) }
    if (lost + dup + wrong > 0)
      System.err.println(s"[perfbench] stream labels: $lost lost, $dup duplicate, $wrong mislabelled")
    (lost + dup + wrong).toLong
  }

  /** One closed-loop drain: seconds from query start until its cold part
    * is processed; seconds of its warm part, as `DrainBatches` times the
    * median micro-batch time, so a burst of host load in a few
    * micro-batches does not move it; mismatches.
    */
  final case class Drain(coldS: Double, warmS: Double, failed: Long)

  /** Closed loop: a fresh query drains a backlog of the first
    * `BacklogEvents` events, one file per micro-batch. A micro-batch ends
    * when its trigger does (progress timestamp plus `triggerExecution`).
    */
  def drain(spark: SparkSession, a: Args, ev: Events, ref: Map[Long, (Long, Long)],
            name: String): Drain = {
    val input = new Input(a, name)
    (0 until BacklogEvents by BatchEvents).foreach(from => input.add(ev.slice(from, from + BatchEvents)))
    val source = spark.readStream.schema("k LONG, id LONG, ms LONG")
      .option("maxFilesPerTrigger", "1").csv(input.dir.toString)
      .select(col("k"), col("id"), timestamp_millis(col("ms")).as("ts"))
    val t0 = System.currentTimeMillis()
    val r = new Running(spark, a, name, source, input.add)
    r.query.processAllAvailable()
    // the last trigger's progress is recorded just after its commit
    val batches = ColdBatches + DrainBatches
    def ends = r.query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    val deadline = System.nanoTime() + 10000000000L
    while (ends.length < batches && System.nanoTime() < deadline) Thread.sleep(5)
    val e = ends
    require(e.length == batches, s"$name drain ran ${e.length} data micro-batches, not $batches")
    r.flushAndStop(ev.ts.take(BacklogEvents).max)
    Main.deleteTree(input.dir)
    val coldEnd = e(ColdBatches - 1)
    val warm = e.drop(ColdBatches - 1)
    val gaps = warm.zip(warm.tail).map { case (x, y) => (y - x).toDouble }
    Drain((coldEnd - t0) / 1e3, DrainBatches * Main.median(gaps.toSeq) / 1e3, mismatches(r.labels, ref))
  }

  /** Open loop outcome: per-label latencies (ms), events offered,
    * mismatches, source lag and generator lateness at the end.
    */
  final case class Open(latMs: Seq[Double], offered: Int, failed: Long,
                        lagRows: Double, lateMs: Double)

  /** Open loop: one generator thread offers events at `OfferedPerS` for
    * `secs`, each stamped with its due time. A label's latency is its
    * emit time minus the due time of the first event that let the
    * watermark close its session, so queue wait counts and the session
    * window does not.
    */
  def openLoop(spark: SparkSession, a: Args, ev: Events, secs: Double, name: String): Open = {
    val n = math.min(ev.size, (OfferedPerS * secs).toInt)
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long)](spark)
    val r = new Running(spark, a, name,
      input.toDF().toDF("k", "id", "ms").select(col("k"), col("id"), timestamp_millis(col("ms")).as("ts")),
      xs => input.addData(xs))
    val intervalNs = 1e9 / OfferedPerS
    val late = new Array[Double](n)
    val t0 = System.nanoTime() + 50000000L
    def due(k: Int): Long = t0 + (k * intervalNs).toLong
    val gen = new Thread(() => {
      var k = 0
      while (k < n) {
        val now = System.nanoTime()
        if (due(k) > now) Thread.sleep(math.max(TickMs, (due(k) - now) / 1000000L))
        else {
          var end = k
          while (end < n && due(end) <= now) end += 1
          input.addData(ev.slice(k, end))
          val added = System.nanoTime()
          (k until end).foreach(i => late(i) = (added - due(i)) / 1e6)
          k = end
        }
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val processed = r.query.recentProgress.map(_.numInputRows).sum
    val lag = (n - processed).toDouble
    r.query.processAllAvailable()
    val closedBefore = r.emitted.asScala.toSeq
    r.flushAndStop(ev.ts.take(n).max)
    val ref = Reference.labels(ev, n, GapMs)
    val failed = mismatches(r.labels, ref)
    // due time of the first event whose arrival moved the watermark past
    // a session's close point (last event + gap + 1 ms + delay)
    val prefixMax = ev.ts.take(n).scanLeft(Long.MinValue)(math.max).tail
    def closingDue(last: Long): Option[Long] = {
      val need = last + GapMs + 1 + DelayMs
      var lo = 0; var hi = n
      while (lo < hi) { val m = (lo + hi) >>> 1; if (prefixMax(m) < need) lo = m + 1 else hi = m }
      if (lo < n) Some(due(lo)) else None
    }
    val warmedUp = t0 + OpenWarmupMs * 1000000L
    val lat = closedBefore.flatMap { case (at, rows) =>
      rows.filter(_._1 >= 0).flatMap(l =>
        ref.get(l._2).flatMap(e => closingDue(e._2)).filter(_ >= warmedUp).map(d => (at - d) / 1e6))
    }
    Open(lat, n, failed, lag, Main.quantile(late.toSeq, 0.99))
  }

  /** The RocksDB state store; and enough retained progress updates that
    * the open loop's source lag can be read off the query at its end.
    */
  def streamConf(s: SparkSession): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
  }

  def run(a: Args): Result = {
    val slots = Main.slots(a.workload)
    val (spark, setupS) = Main.setUp(a, slots)
    streamConf(spark)
    val tr = new Tracer(spark)
    val ev = generate(spark, a, math.max(BacklogEvents, OfferedPerS * a.seconds))
    val drainRef = Reference.labels(ev, BacklogEvents, GapMs)
    val heap = mutable.ArrayBuffer(Main.heapAfterGcMb(spark))
    var attempted = 0L
    var failed = 0L
    def drained(name: String): Drain = {
      val d = tr.span(s"$name drain", "bench")(drain(spark, a, ev, drainRef, name))
      attempted += BacklogEvents; failed += d.failed
      heap += Main.heapAfterGcMb(spark)
      System.err.println(f"[perfbench] $name drain: cold part ${d.coldS}%.2f s, warm part ${d.warmS}%.2f s")
      d
    }
    def opened(name: String): Open = {
      val o = tr.span(s"$name open loop", "bench")(openLoop(spark, a, ev, a.seconds, name))
      attempted += o.offered; failed += o.failed
      heap += Main.heapAfterGcMb(spark)
      o
    }
    def e2e(drainS: Double, o: Open): Map[String, Double] = {
      Main.printTail("labels", o.latMs)
      Map("total_s" -> drainS, "latency_p50_ms" -> Main.median(o.latMs))
    }

    // codegen.*: the compiles of the first drain, which holds the
    // query's start-up (the codegen counters need no listener)
    val c0 = tr.snapshot()
    val plainDrain = drained("untraced")
    val coldCounters = Batch.diff(tr.snapshot(), c0)

    // traced run: a traced drain and open loop between the untraced ones
    val traced = if (!a.trace) None else {
      tr.setOn(true)
      tr.clearProgress()
      val b = tr.snapshot()
      val trDrain = drained("traced")
      val counters = Batch.diff(tr.snapshot(), b)
      val progress = tr.progressEvents
      val trOpen = opened("traced")
      tr.setOn(false)
      Some((trDrain, counters, progress, trOpen))
    }

    val open = opened("untraced")
    val plain = e2e(plainDrain.warmS, open)
    val result = traced match {
      case None =>
        Metrics.endToEndResult(attempted, failed, plain ++ Map(
          "setup_s" -> setupS, "cold_pass_s" -> plainDrain.coldS,
          "heap_peak_mb" -> heap.max))
      case Some((trDrain, counters, progress, trOpen)) =>
        val tree = tr.spanTree()
        val drainSpan = tree.filter(_.name == "traced drain")
        Trace.writeSpans(tree, a.work.resolve(s"trace/${a.workload}-seed${a.seed}.jsonl"))
        Main.stop(spark)

        // single-slot baseline: the same drain on local[1]
        val one = Main.session(a, 1)
        streamConf(one)
        val oneDrain = drain(one, a, ev, drainRef, "local1")
        attempted += BacklogEvents; failed += oneDrain.failed
        Main.stop(one)

        Metrics.perLayerResult(a.workload, attempted, failed,
          counters.filter(_._1.startsWith("catalyst.")) ++
            Metrics.exec(counters, drainSpan.map(_.dur).sum / 1e9, slots) ++
            Metrics.self(Trace.selfTimes(tree, drainSpan), 1) ++
            streamLayers(progress, trOpen) ++
            Metrics.overhead(e2e(trDrain.warmS, trOpen), plain) ++ Map(
            "core.session_s" -> setupS,
            "codegen.compiles" -> coldCounters.getOrElse("codegen.compiles", 0.0),
            "codegen.compile_s" -> coldCounters.getOrElse("codegen.compile_s", 0.0),
            "codegen.warm_compiles" -> counters.getOrElse("codegen.compiles", 0.0),
            "driver.gap_s" -> Trace.gapS(tree, drainSpan),
            "streaming.local1_rows_per_s" -> DrainEvents / oneDrain.warmS))
    }
    if (!a.trace) Main.stop(spark)
    result
  }

  private def phaseMedian(ps: Seq[StreamingQueryProgress], k: String): Double =
    Main.median(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))

  /** streaming.*, state.* and source.* from the traced drain's progress
    * events and the traced open loop. Per-batch medians are over the
    * drain's warm data micro-batches; counts and maxima over all its
    * triggers.
    */
  def streamLayers(all: Seq[StreamingQueryProgress], open: Open): Map[String, Double] = {
    val ps = all.filter(_.numInputRows > 0).sortBy(_.batchId).drop(ColdBatches)
    val ops = all.flatMap(_.stateOperators.headOption)
    def custom(k: String): Double =
      ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    Map(
      "streaming.batches" -> all.size.toDouble,
      "streaming.add_batch_ms" -> phaseMedian(ps, "addBatch"),
      "streaming.query_planning_ms" -> phaseMedian(ps, "queryPlanning"),
      "streaming.wal_commit_ms" -> phaseMedian(ps, "walCommit"),
      "streaming.commit_offsets_ms" -> phaseMedian(ps, "commitOffsets"),
      "streaming.latest_offset_ms" -> phaseMedian(ps, "latestOffset"),
      "streaming.trigger_p50_ms" -> phaseMedian(ps, "triggerExecution"),
      "state.rows_max" -> ops.map(_.numRowsTotal.toDouble).max,
      "state.mem_mb_max" -> ops.map(_.memoryUsedBytes / 1048576.0).max,
      "state.rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
      "state.commit_ms" -> Main.median(ps.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)),
      "state.timers_registered" -> custom("numRegisteredTimers"),
      "state.rows_dropped_late" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "source.lag_rows_end" -> open.lagRows,
      "source.generator_late_ms" -> open.lateMs)
  }
}
