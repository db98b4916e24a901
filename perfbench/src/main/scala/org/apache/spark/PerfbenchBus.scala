package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark reads complete job and task records after an op. The bus is
  * package-private to Spark, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
