package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * span counters are complete before they are read. `waitUntilEmpty` is
  * Spark-internal, hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
