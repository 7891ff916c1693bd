package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * traced pass's counters are complete before they are read. The bus is
  * private to Spark, hence this package. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
