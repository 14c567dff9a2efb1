package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so
  * a span's counters are complete before the next span starts. Lives
  * under `org.apache.spark` because the bus is Spark-private.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
