package org.apache.spark

/** Hook into the private[spark] listener bus: block until every queued
  * event has reached its listeners, so a counting listener is complete
  * when its reader looks. Bounded: Spark's `waitUntilEmpty` throws
  * `TimeoutException` after 10 s. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
