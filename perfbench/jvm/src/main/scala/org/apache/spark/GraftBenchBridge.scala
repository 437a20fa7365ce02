package org.apache.spark

/** Bridge into `private[spark]` surface for the benchmark: drains the
  * listener bus (job, stage, task, SQL-execution and streaming-progress
  * events) before per-layer metrics are read, instead of sleeping and
  * hoping delivery finished. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
