package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`: this shim lets the
  * tracer read fully delivered listener events at the end of each traced
  * operation instead of racing the asynchronous bus.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
