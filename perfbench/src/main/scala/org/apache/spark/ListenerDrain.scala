package org.apache.spark

/** Waits until every posted listener event has been delivered. The
  * listener bus is package-private to Spark, so this one accessor lives
  * in Spark's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
