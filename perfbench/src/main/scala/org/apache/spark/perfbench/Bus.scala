package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark's listener bus is asynchronous; counters are read only after
  * it has delivered every queued event. The drain hook is
  * package-private to Spark, hence this one-method bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
