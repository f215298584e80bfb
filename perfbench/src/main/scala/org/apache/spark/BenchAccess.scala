package org.apache.spark

/** The one Spark-private hook the benchmark needs: wait until the
  * listener bus has delivered every queued event, so per-span counters
  * are complete before they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
