package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run's job and task counts are complete before they are written.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
