package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; counters read before
  * it drains would miss the last jobs of a pass. `listenerBus` is
  * package-private to Spark, hence this bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
