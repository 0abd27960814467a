package org.apache.spark

/** Reaches the package-private listener bus, so the benchmark can wait for
  * every posted event to be delivered instead of sleeping and polling. */
object RagbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
