package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Re-exposes the one package-private call the benchmark's listener needs:
  * listener events are delivered asynchronously, so metrics read right after
  * an operation must first wait for the bus to deliver everything posted so
  * far. Lives in Spark's package tree only for that access.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
