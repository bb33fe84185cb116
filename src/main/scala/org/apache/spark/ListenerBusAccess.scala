package org.apache.spark

/** Lets specs and Bench wait for the listener bus: events reach listeners
  * asynchronously, and `waitUntilEmpty` is `private[spark]`. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
