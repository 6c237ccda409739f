package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until Spark's listener bus has delivered every posted event, so a
  * listener sees every job that has already run before it is detached. The
  * bus is package-private to Spark.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
