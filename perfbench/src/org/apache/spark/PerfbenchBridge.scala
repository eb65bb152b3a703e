package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until every queued
  * listener event has been delivered, so the traced counters read after an
  * operation include that operation's task and job events.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
