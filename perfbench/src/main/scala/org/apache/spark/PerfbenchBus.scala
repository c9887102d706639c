package org.apache.spark

/** Listener events are delivered asynchronously. Counts read at a call
  * boundary are only complete once the bus has delivered every event
  * posted before it, and the bus's drain is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
