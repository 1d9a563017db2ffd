package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener-side accounting is complete before it is read. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
