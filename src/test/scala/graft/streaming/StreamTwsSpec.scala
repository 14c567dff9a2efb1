package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The property the oracle can't see: the transformWithState per-user
  * aggregate must equal the batch rollup when events arrive across MANY
  * micro-batches out of event-time order — the state transition is
  * commutative (count, exact cents, type-set union), and this pins it.
  */
class StreamTwsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("state-partition count precedence: derived > inherited") {
    assert(StreamOps.statePartitions(Some(6), "4") == ("6" -> "derived"))
    assert(StreamOps.statePartitions(None, "4") == ("4" -> "inherited"))
  }

  test("scrambled multi-micro-batch arrival equals the batch rollup") {
    val events = graft.Tables.load(spark, sf, "events")
    val batchTruth = events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    assert(batchTruth.nonEmpty)

    val splitDir = Files.createTempDirectory("graft_tws_split").toString
    events.repartition(5, xxhash64(col("event_id")))
      .write.mode("overwrite").parquet(splitDir)
    val schema = spark.read.parquet(splitDir).schema
    val streamed = StreamOps.streamUserStatsTwsFrom(spark,
        s => s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(splitDir))
      .collect().map(_.toSeq).toSeq
    assert(streamed == batchTruth)
  }

  test("bootstrap: half-corpus stream + batch-seeded state = full rollup") {
    val events = graft.Tables.load(spark, sf, "events")
    // ground truth over the WHOLE corpus, restricted to users the odd
    // (streamed) half touches — bootstrap-only users hold state but
    // never emit, by design
    val touched = events.filter(col("event_id") % 2 === 1)
      .select("user_id").distinct()
    val batchTruth = events.join(touched, "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_cents"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")
      .collect().map(_.toSeq).toSeq
    // deliver the streamed half across 5 hash-scrambled micro-batches:
    // the batch-seeded state must survive, and be applied exactly once,
    // across every batch — not just batch 0
    val splitDir = Files.createTempDirectory("graft_twsboot_split").toString
    events.repartition(5, xxhash64(col("event_id")))
      .write.mode("overwrite").parquet(splitDir)
    val schema = spark.read.parquet(splitDir).schema
    val got = StreamOps.streamUserStatsBootstrapFrom(spark, sf,
        s => s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(splitDir))
      .collect().map(_.toSeq).toSeq
    assert(got == batchTruth)
    // the warm start is load-bearing: the stream half alone is NOT the
    // full rollup (otherwise this test proves nothing)
    val streamOnly = events.filter(col("event_id") % 2 === 1)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    assert(streamOnly.map(_(1)) != batchTruth.map(_(1)))
  }
}
