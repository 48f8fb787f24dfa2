package org.apache.spark

/** Waits until every event posted so far has reached the listeners (the
  * listener bus is asynchronous and package-private to Spark). */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
