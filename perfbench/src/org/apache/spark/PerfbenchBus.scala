package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener's counters are complete when an operation is measured. The bus
  * is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
