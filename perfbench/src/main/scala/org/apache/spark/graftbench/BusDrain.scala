package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * traced run reads complete counters. The listener bus is
  * package-private to Spark; this one call is the only reason the
  * harness has a file in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
