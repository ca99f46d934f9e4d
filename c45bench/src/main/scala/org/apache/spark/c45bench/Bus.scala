package org.apache.spark.c45bench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the ledger reads its counts
  * only after every queued event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
