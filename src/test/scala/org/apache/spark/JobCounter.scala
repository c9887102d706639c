package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while it is registered. `count` and
  * `stop` drain the listener bus first, so a count read right after an
  * action includes every job that action started. */
final class JobCounter private (sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicInteger(0)
  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  def count(): Int = { ListenerBusDrain(sc); jobs.get() }
  def stop(): Unit = { ListenerBusDrain(sc); sc.removeSparkListener(this) }
}

object JobCounter {
  def start(sc: SparkContext): JobCounter = {
    val c = new JobCounter(sc)
    sc.addSparkListener(c)
    c
  }
}
