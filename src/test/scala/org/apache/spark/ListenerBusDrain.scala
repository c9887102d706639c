package org.apache.spark

/** Listener events arrive asynchronously; a count read right after an
  * action is complete only once the bus has delivered every event posted
  * before it. The bus's drain is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
