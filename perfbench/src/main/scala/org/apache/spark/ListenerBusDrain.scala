package org.apache.spark

/** Waits until every event posted so far has reached every listener; the
  * listener bus is private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
