package org.apache.spark

/** Test access to the listener bus: block until every queued event has
  * reached its listeners, so a listener's counts are complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
