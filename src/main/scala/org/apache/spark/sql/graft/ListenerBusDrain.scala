package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Waits until every posted listener event has been delivered, so
  * counters read afterwards are complete. The bus is `private[spark]`,
  * hence the package (the same connector-shim pattern as
  * [[InternalRowDataFrame]]). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

/** Posts an event to every registered listener (the bus is
  * `private[spark]`, as above). */
object ListenerBusPost {
  def apply(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}
