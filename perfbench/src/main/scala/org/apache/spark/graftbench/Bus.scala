package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: the harness
  * must read its listener's counters only after every posted event has
  * been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
