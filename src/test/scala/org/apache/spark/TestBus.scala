package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test's listener has seen every job an action started before it counts.
  * The bus is package-private to Spark, hence the package of this object.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
