package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark's listener bus is asynchronous and its drain is private to
  * Spark; `graft.Bench` reads its counters only after a drain. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
