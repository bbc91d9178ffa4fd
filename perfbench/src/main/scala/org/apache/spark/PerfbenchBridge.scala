package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the listener
  * bus has delivered every queued event, so counters read after a run see
  * all of its jobs and tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
