package org.apache.spark.flockbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * reader of listener-side records sees all events of the ops that have
  * already returned. The bus is private to Spark; this is its one
  * public-facing door in the benchmark.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
