package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced call's jobs, stages and query executions are all recorded
  * before the next call starts. The bus is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
