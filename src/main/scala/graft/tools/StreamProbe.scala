package graft.tools

/** One-off throughput probe: streaming slice rps at increasing volumes
  * (fixed micro-batch overhead amortizes with volume). The session comes
  * from `GraftSession.builder`, so the probe measures the engine
  * configuration the tests, the tools and the benchmark run.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (rows <- Seq(5000000L, 20000000L, 40000000L)) {
      val r1 = graft.Bench.streamingMapCountRps(spark, rows)
      val r2 = graft.Bench.streamingMapCountRps(spark, rows)
      println(s"rows=$rows rps_best=${math.max(r1, r2).toLong} (t1=${r1.toLong} t2=${r2.toLong})")
    }
    spark.stop()
  }
}
