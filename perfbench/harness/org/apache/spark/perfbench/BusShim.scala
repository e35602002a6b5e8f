package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; a traced run drains it after each op
  * so every event of the op has reached the recorder before the next op
  * starts. `listenerBus` is package-private to Spark, hence this shim. */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
