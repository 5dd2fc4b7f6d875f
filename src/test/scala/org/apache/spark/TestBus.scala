package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener has seen all the jobs a call started before the test reads
  * its counts. The bus is package-private to Spark. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
