package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * every op so that each event is attributed before the next op starts.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
