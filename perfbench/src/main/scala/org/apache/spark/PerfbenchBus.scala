package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * benchmark's ledger has seen all job, stage and task ends of an operation
  * before it reads them. The bus is package-private to Spark, hence the
  * package of this object.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
