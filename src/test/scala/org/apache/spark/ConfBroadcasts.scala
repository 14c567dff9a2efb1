package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.SerializableConfiguration

/** Ids of the broadcast variables the driver's block manager still holds
  * whose value is a Hadoop configuration, so a spec can pin that a write
  * releases the one it shipped. Lives under `org.apache.spark` because
  * the block manager is Spark-private.
  */
object ConfBroadcasts {
  def apply(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect { case b @ BroadcastBlockId(id, "") => (id, b) }
      .filter { case (_, b) =>
        // draining the values releases the read lock getLocalValues takes
        bm.getLocalValues(b).exists(_.data.toList.exists(_.isInstanceOf[SerializableConfiguration]))
      }
      .map(_._1).toSet
  }
}
