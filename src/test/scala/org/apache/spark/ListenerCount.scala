package org.apache.spark

import scala.jdk.CollectionConverters._

/** How many listeners of class `cls` the context's bus holds, so a spec
  * can pin that a cache registers a bounded number. Lives under
  * `org.apache.spark` because the bus is Spark-private.
  */
object ListenerCount {
  def apply(sc: SparkContext, cls: Class[_]): Int =
    sc.listenerBus.listeners.asScala.count(cls.isInstance)
}
