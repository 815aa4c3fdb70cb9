package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark's package. */
object Bus {
  /** Block until every posted listener event has been delivered. */
  def flush(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
