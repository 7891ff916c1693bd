package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: lets a diagnostic read
  * its listener's counters only after every posted event has been
  * delivered, and lets tests check that listeners are not leaked. */
object listenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def size(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
