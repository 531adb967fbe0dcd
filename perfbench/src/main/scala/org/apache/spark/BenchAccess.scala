package org.apache.spark

/** The one Spark-internal the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so an op's job, stage
  * and query events are all in before its metrics are read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
