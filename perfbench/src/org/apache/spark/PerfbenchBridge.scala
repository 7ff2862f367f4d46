package org.apache.spark

/** The one Spark-internal the traced run needs: wait until every queued
  * listener event (task ends, query-execution callbacks) is delivered, so
  * a span's events are attributed before the next span starts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
