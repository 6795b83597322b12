package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public SparkContext API does not offer: the
  * traced run drains the bus after each measured call so that every job
  * and stage event of that call is attributed to it, not to the next one. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
