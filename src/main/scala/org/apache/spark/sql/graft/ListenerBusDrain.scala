package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so
  * counters read afterwards are complete. The bus is `private[spark]`,
  * hence the package (the same connector-shim pattern as
  * [[InternalRowDataFrame]]). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
