package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so engine
  * counters read after a run include all of its tasks. The listener bus is
  * Spark-private; this object lives in Spark's package to reach it.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
