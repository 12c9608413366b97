package org.apache.spark

/** Listener events arrive asynchronously; a count read before the bus is
  * empty misses the last jobs. `waitUntilEmpty` is package-private to
  * Spark, hence this bridge for the tests.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
