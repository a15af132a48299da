package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so counters read after an
  * action include every event that action posted.
  * `LiveListenerBus.waitUntilEmpty` is package-private to Spark, hence
  * this object's package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
