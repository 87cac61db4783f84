package org.apache.spark

/** Test bridge to the listener bus: listener events are delivered
  * asynchronously, so a spec that counts them drains the bus first.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
