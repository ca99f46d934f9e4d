package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; listener-counting specs drain
  * it so every event of the jobs they ran has been delivered before
  * they read a count or remove their listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
