package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drains asynchronously; counters read before it is
  * empty would miss the last stages of a run. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
