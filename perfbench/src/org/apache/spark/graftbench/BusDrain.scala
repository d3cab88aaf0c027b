package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so per-round counters are complete before they are read.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
