package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingSessionize

/** A checkpointed stream must not fork a subprocess per checkpoint file.
  * Without `libhadoop`, stock Hadoop local-filesystem calls shell out
  * through `org.apache.hadoop.util.Shell` (`chmod` per created file,
  * `readlink` per rename); the session factory's local filesystem does
  * not. Forks are observed with an in-process JFR recording of
  * `jdk.ProcessStart` with stack traces.
  */
class ForkGuardSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** Command lines of the processes `body` started from Hadoop's Shell. */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("forks", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the probe sees the fork of a stock Hadoop chmod") {
    // also runs Shell's one-time class initialisation (it probes for
    // setsid) before the stream below is recorded
    val f = Files.createTempFile("stock-chmod", ".txt")
    try {
      val forks = shellForks {
        val raw = new org.apache.hadoop.fs.RawLocalFileSystem()
        raw.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
        raw.setPermission(new org.apache.hadoop.fs.Path(f.toString),
          new org.apache.hadoop.fs.permission.FsPermission(Integer.parseInt("644", 8).toShort))
      }
      assert(forks.exists(_.startsWith("chmod")), s"no chmod fork recorded: $forks")
    } finally Files.deleteIfExists(f)
  }

  test("a checkpointed RocksDB sessionize stream forks no Hadoop Shell command") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gap = 1800000L
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val input = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
      val grouped = input.toDS().toDF("k", "id", "ts")
        .withWatermark("ts", "1 second")
        .as[(Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3.getTime))
      val fired = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val ckpt = Files.createTempDirectory("ckpt-fork-guard").toString
      var batches = 0L
      val forks = shellForks {
        val q = StreamingSessionize.labeled(grouped, gap)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
            fired ++= b.collect(); ()
          }.start()
        try {
          input.addData((1L, 11L, t(0)), (2L, 21L, t(60)))
          q.processAllAvailable()
          input.addData((1L, 12L, t(600)), (2L, 22L, t(7200)))
          q.processAllAvailable()
          input.addData((1L, 13L, t(90000)))
          q.processAllAvailable()
          batches = q.recentProgress.count(_.numInputRows > 0)
        } finally q.stop()
      }
      assert(batches >= 3, s"only $batches data micro-batches ran")
      assert(fired.toSet === Set((1L, 11L, 1L), (1L, 12L, 1L), (2L, 21L, 1L), (2L, 22L, 2L)))
      assert(forks.size === 0, s"Hadoop Shell forks, e.g. ${forks.take(5)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
