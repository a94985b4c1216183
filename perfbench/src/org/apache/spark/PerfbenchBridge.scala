package org.apache.spark

/** Access to the listener bus, whose drain is package-private. */
object PerfbenchBridge {
  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
