package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so counters
  * gathered by benchmark listeners are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
