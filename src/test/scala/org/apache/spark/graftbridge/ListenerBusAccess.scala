package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; specs that count jobs or read
  * QueryExecutionListener captures need it drained first, so that every
  * event of the actions they just ran has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
