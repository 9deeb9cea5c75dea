package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * totals read after an action include all of its tasks. The listener bus
  * is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
