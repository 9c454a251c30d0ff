package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run attributes listener events to the op that caused
  * them by draining the listener bus at op boundaries; the drain is
  * Spark-private, so the benchmark reaches it from inside the package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
