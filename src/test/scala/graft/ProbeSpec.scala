package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Probe

/** One engine configuration and one probe: the session factory is the
  * only place a SparkSession is built, and the probe's modes run on any
  * session handed to them without stopping it.
  */
class ProbeSpec extends AnyFunSuite {
  import TestSession._

  test("SparkSession.builder( and SPARK_GRAFT_CPUS appear only in core/GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 100, s"source scan found only ${sources.size} files")
    Seq("SparkSession.builder(", "SPARK_GRAFT_CPUS").foreach { needle =>
      val hits = sources.filter(p => Files.readString(p).contains(needle))
        .map(p => root.relativize(p).toString)
      assert(hits === Seq("graft/core/GraftSession.scala"), needle)
    }
  }

  test("Probe jobs and plan run q01 on a shared session and leave it running") {
    val runs = Probe.jobs(spark, sfDir, Seq("q01_agg_pricing"))
    assert(runs.map(_.query) === Seq("q01_agg_pricing"))
    assert(runs.head.jobs.nonEmpty, "no Spark job recorded")
    assert(runs.head.endMs >= runs.head.startMs)

    val out = Files.createTempDirectory("graft-probe-plan")
    val plans = Probe.plan(spark, sfDir, out, "t", Seq("q01_agg_pricing"))
    val Seq((name, txt, counts)) = plans
    assert(name === "q01_agg_pricing")
    assert(txt.nonEmpty)
    assert(Files.readString(out.resolve("q01_agg_pricing_t.txt")) === txt)
    assert(counts.getOrElse("Exchange", 0) >= 1, counts)

    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3L)
  }

  test("SparkEntry.select: no prefix selects every query, a prefix only its matches") {
    assert(SparkEntry.select(Seq()).size === 334)
    assert(SparkEntry.select(Seq()).keySet === SparkEntry.queries.keySet)
    val q01 = SparkEntry.select(Seq("q01"))
    assert(q01.nonEmpty)
    assert(q01.keySet === SparkEntry.queries.keySet.filter(_.startsWith("q01")))
  }
}
