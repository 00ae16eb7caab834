package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; counts read before
  * the bus is empty miss the tail of the last job. The drain hook is
  * package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
