package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * trace is complete before the harness reads it. The bus is private to
  * Spark; this file sits in Spark's package only to reach it. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
