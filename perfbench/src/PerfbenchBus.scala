package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's counters are complete before it reads them
  * (`LiveListenerBus.waitUntilEmpty` is private to the spark package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
