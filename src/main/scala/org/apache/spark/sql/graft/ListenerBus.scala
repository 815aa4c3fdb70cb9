/* Lives under org.apache.spark because `SparkContext.listenerBus` is
 * private[spark]. */
package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The live listener bus, for code that reads listener results. */
object ListenerBus {
  def attached(sc: SparkContext, listener: SparkListenerInterface): Boolean =
    sc.listenerBus.listeners.contains(listener)

  /** Block until every posted event, streaming progress included, has
    * been delivered (at most `timeoutMs`). */
  def drain(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
