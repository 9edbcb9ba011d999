package org.apache.spark

/** The one package-private Spark call the benchmark needs: listener
  * events are delivered asynchronously, so a traced phase waits for the
  * bus to drain before its counters are read, and a heap reading waits so
  * that events still queued on the bus are not counted.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
