package org.apache.spark

/** The one private[spark] hook the benchmark needs: block until every
  * listener queue (Spark, query-execution and streaming listeners) has
  * delivered its events, so a traced run never reads half-filled spans. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
