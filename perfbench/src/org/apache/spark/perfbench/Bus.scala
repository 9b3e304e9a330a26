package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into `SparkContext.listenerBus` (private[spark]): block until
  * every event posted so far has reached every listener. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
