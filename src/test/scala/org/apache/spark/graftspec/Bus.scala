package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so a listener read after an action has seen all of its jobs. The
  * bus is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
