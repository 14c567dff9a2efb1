package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * spec's listener counts are complete. Lives under `org.apache.spark`
  * because the bus is Spark-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
