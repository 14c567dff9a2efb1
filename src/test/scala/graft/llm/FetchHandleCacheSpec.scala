package graft.llm

import java.nio.file.Files

import org.apache.spark.ListenerCount
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.LlmOps

/** The bucketed fetch-handle cache behind `LlmOps.batchPrunedFetch`
  * must stay bounded when a long-lived driver serves each query on its
  * own `newSession()`: at most one eviction listener per SparkContext,
  * and at most `MaxFetchSessions` sessions' handles held — while every
  * session still fetches the same rows through a pruned scan.
  */
class FetchHandleCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("many newSession()s through batchPrunedFetch add at most one " +
      "listener and keep the session map within its cap") {
    // a small bucketed layout: 6 id buckets, one vector per id
    val dir = Files.createTempDirectory("fetch_cache").toString + "/raw"
    spark.range(0, 6 * LlmOps.RawBucketWidth)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(1.0f)).as("embedding"))
      .withColumn("id_bucket", floor(col("vec_id") / lit(LlmOps.RawBucketWidth)))
      .write.partitionBy("id_bucket").parquet(dir)
    val cands = spark.range(0, 6 * LlmOps.RawBucketWidth)
      .filter(pmod(col("id"), lit(5 * LlmOps.RawBucketWidth)) === 3)
      .select(col("id").as("vec_id"))
      .localCheckpoint(true)

    def fetch(s: SparkSession): (Seq[Long], Boolean) = {
      val (df, pruned) = LlmOps.batchPrunedFetch(s, dir, cands, "vec_id",
        maxBuckets = 6)
      (df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq, pruned)
    }

    val (want, wantPruned) = fetch(spark)
    // the two touched buckets, whole (the fetch is bucket-granular)
    val w = LlmOps.RawBucketWidth
    assert(wantPruned && want == ((0L until w) ++ (5 * w until 6 * w)))
    val sessions = LlmOps.MaxFetchSessions + 8
    for (i <- 1 to sessions) {
      val (got, pruned) = fetch(spark.newSession())
      assert(got == want && pruned, s"session $i")
      assert(LlmOps.fetchCacheSessions <= LlmOps.MaxFetchSessions,
        s"session map grew past its cap after $i sessions")
    }
    val evictors = ListenerCount(spark.sparkContext,
      classOf[LlmOps.FetchCacheEviction])
    assert(evictors == 1,
      s"${sessions + 1} sessions left $evictors eviction listeners")
  }
}
