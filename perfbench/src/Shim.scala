package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchShim {
  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
