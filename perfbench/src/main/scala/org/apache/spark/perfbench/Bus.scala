package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a statement include all of its tasks. The
  * bus is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
