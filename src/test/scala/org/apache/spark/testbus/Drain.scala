package org.apache.spark.testbus

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered (the
  * listener bus is package-private to Spark), so a spec can read a
  * listener's counts without sleeping. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
