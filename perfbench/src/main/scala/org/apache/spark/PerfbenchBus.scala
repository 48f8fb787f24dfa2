package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The
  * listener bus is asynchronous, so a span's counters are read only after
  * its jobs' task-end events have been delivered; the bus is
  * package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
