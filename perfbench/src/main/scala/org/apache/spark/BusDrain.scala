package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; counters read from a
  * listener are exact only after the bus has delivered every queued event
  * (a fixed sleep would attribute late task-end events to the wrong phase). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
