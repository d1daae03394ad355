package org.apache.spark

/** The listener bus is package-private to Spark; the harness drains it
  * before reading listener state, so every job, stage and task event of
  * a finished operation has been delivered. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
