package org.apache.spark

/** The one Spark-internal hook the benchmark needs: drain the listener bus
  * so every job, stage and task event of a pass is delivered before the
  * pass's trace is summed. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
