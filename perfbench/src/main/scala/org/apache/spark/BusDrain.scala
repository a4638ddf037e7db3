package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all jobs and tasks before it is read.
  * The bus is package-private to Spark; this is the only reason the file
  * lives in Spark's package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
