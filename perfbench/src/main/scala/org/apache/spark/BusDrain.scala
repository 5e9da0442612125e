package org.apache.spark

/** Waits until every listener queue of a SparkContext has delivered its
  * pending events. Listener delivery is asynchronous, so the traced
  * counters are only complete once the bus is empty; the wait itself is
  * package-private to Spark, hence this accessor's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
