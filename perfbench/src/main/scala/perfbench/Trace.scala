package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, on the System.nanoTime clock.
  * `parent` is 0 for a root span; listener spans get their parent later,
  * by time containment (see [[Tracer.spanTree]]).
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long, fromListener: Boolean) {
  def dur: Long = end - start
}

/** In-memory tracer for the traced run. The benchmark's own calls into
  * the program (pass, query, build, consume, table open, drain) nest
  * through a stack on the one driver thread; Spark's public listeners add
  * job, stage, Catalyst-phase and streaming-trigger spans plus counters.
  * When `on` is false every hook is a no-op and no listener is attached.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  @volatile private var on = false

  /** Epoch-ms listener timestamps mapped onto the nanoTime clock. */
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + nanoOffset

  def isOn: Boolean = on

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, System.nanoTime(), fromListener = false))
        stack = stack.tail
      }
    }

  private def addSpan(name: String, layer: String, start: Long, end: Long): Unit =
    if (end >= start) spans.add(Span(ids.incrementAndGet(), 0L, name, layer, start, end, fromListener = true))

  private def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }

  private val jobStarts = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.synchronized(jobStarts(e.jobId) = e.time)
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { t =>
        addSpan(s"job ${e.jobId}", "exec", fromEpochMs(t), fromEpochMs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("exec.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        addSpan(s"stage ${i.stageId}", "exec", fromEpochMs(s), fromEpochMs(c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      add("exec.task_s", e.taskInfo.duration / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"catalyst.${phase}_s", p.durationMs / 1e3)
        addSpan(phase, "catalyst", fromEpochMs(p.startTimeMs), fromEpochMs(p.endTimeMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e)
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      addSpan(s"trigger ${p.batchId}", "streaming", start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L)
      // durationMs carries no start times: lay the phases out in the
      // order MicroBatchExecution runs them
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          d.get(ph).foreach { ms =>
            addSpan(ph, "streaming", t, t + ms * 1000000L)
            t += ms * 1000000L
          }
        }
    }
  }

  /** Attach or detach every listener. Spans already recorded stay. */
  def setOn(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    on = enable
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Cumulative counters, codegen included; diff two snapshots for a phase. */
  def snapshot(): Map[String, Double] = {
    drain()
    counters.synchronized(counters.toMap) ++ Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9)
  }

  def progressEvents: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    drain()
    progress.asScala.toSeq.map(_.progress)
  }
  def clearProgress(): Unit = progress.clear()

  /** All spans with listener spans parented by time containment: the
    * innermost span that contains an unparented span's interval becomes
    * its parent (a batch workload runs one query at a time, and triggers
    * of one streaming query never overlap).
    */
  def spanTree(): Seq[Span] = {
    drain()
    val all = spans.asScala.toSeq
    val (loose, rooted) = all.partition(_.fromListener)
    val candidates = all.sortBy(_.dur)
    def parentOf(s: Span): Long = {
      val mid = s.start + s.dur / 2
      candidates.find(c => c.id != s.id && c.dur > s.dur && c.start <= mid && mid <= c.end)
        .map(_.id).getOrElse(0L)
    }
    rooted ++ loose.map(s => s.copy(parent = parentOf(s)))
  }
}

object Trace {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per layer (seconds) of the spans under `roots`: every
    * instant goes to the deepest span open at it, so the layers partition
    * the roots' wall time even where sibling spans (concurrent jobs)
    * overlap.
    */
  def selfTimes(tree: Seq[Span], roots: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach { root =>
      val kids = tree.groupBy(_.parent)
      def withDepth(s: Span, d: Int): Seq[(Span, Int)] =
        (s, d) +: kids.getOrElse(s.id, Nil).flatMap(withDepth(_, d + 1))
      val spans = withDepth(root, 0).map { case (s, d) =>
        (s.copy(start = math.max(s.start, root.start), end = math.min(s.end, root.end)), d)
      }.filter { case (s, _) => s.end > s.start }
      val cuts = spans.flatMap { case (s, _) => Seq(s.start, s.end) }.distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val open = spans.filter { case (s, _) => s.start <= a && s.end >= b }
        if (open.nonEmpty) out(open.maxBy(_._2)._1.layer) += (b - a) / 1e9
      }
    }
    out.toMap
  }

  /** Driver gap (seconds): the time inside `roots` with no Spark job running. */
  def gapS(tree: Seq[Span], roots: Seq[Span]): Double =
    roots.map { r =>
      val jobs = subtree(tree, r).filter(s => s.fromListener && s.name.startsWith("job "))
      r.dur - covered(jobs.map(j => (j.start, j.end)), r.start, r.end)
    }.sum / 1e9

  /** Spans under `root`, itself included. */
  def subtree(tree: Seq[Span], root: Span): Seq[Span] = {
    val kids = tree.groupBy(_.parent)
    def go(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(go)
    go(root)
  }

  def writeSpans(tree: Seq[Span], path: java.nio.file.Path): Unit = {
    val lines = tree.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
