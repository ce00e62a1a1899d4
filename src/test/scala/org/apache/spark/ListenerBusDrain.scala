package org.apache.spark

/** Test hook into the private[spark] listener bus: block until every
  * queued event has reached its listeners, so a counting listener is
  * complete when a spec reads it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
