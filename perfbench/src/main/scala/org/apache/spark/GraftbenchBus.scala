package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * stage and task metrics are complete before the benchmark reads them.
  * The bus is package-private to Spark, hence this package. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
