package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is asynchronous and `waitUntilEmpty` is package-private to Spark,
  * so the traced pass reaches it from inside the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
