package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark, hence this shim. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
