package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until every
  * posted listener event has been delivered, so per-request counters are
  * complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
