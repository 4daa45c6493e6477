package org.apache.spark

/** Test access to the private[spark] listener bus: waits until every
  * posted event has reached the listeners, so counts taken by a test's
  * SparkListener are complete.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
