package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared streamed-index pieces ([[IndexLifecycle]], [[EpochFamily]])
  * on SYNTHETIC durable state, the way FoldMachineSpec plants it: the
  * epoch family's part listing and fold protocol, the cost of one
  * `parts()` call, and the bounded marker wait.
  */
class IndexLifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshIdx(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"indexlifecycle_$tag").toString

  private def plantGen(idx: String, g: Long): Unit =
    spark.range(g, g + 1).select(col("id").as("vec_id"))
      .write.mode("overwrite").parquet(s"$idx/codes/gen=$g")

  private def exists(path: String): Boolean = new java.io.File(path).exists()

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Long = {
    val jobs = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("parts(): epoch 0 resolves to codes/gen=0, then the unfolded " +
      "generations in order") {
    val idx = freshIdx("parts0")
    Seq(0L, 2L, 1L, 10L).foreach(plantGen(idx, _))
    val fam = EpochFamily.codes(spark, idx)
    assert(fam.parts() == Seq(0L, 1L, 2L, 10L).map(g => s"$idx/codes/gen=$g"))
    assert(fam.manifest() == (0L, 0L))
    assert(EpochFamily.tombs(spark, idx).parts().isEmpty,
      "the tombstone family has no base build: epoch 0 is no part")
  }

  test("fold writes the epoch, then the manifest, then sweeps what that " +
      "manifest supersedes; parts() lists the epoch before the " +
      "unfolded generations") {
    val idx = freshIdx("fold")
    (0L to 3L).foreach(plantGen(idx, _))
    val fam = EpochFamily.codes(spark, idx)
    fam.fold(2L, spark.read.parquet(fam.parts().take(3): _*))
    assert(fam.manifest() == (1L, 2L))
    assert(fam.parts() == Seq(s"$idx/compact/epoch=1", s"$idx/codes/gen=3"))
    assert(Seq(0L, 1L, 2L).forall(g => !exists(s"$idx/codes/gen=$g")),
      "generations ≤ folded_through are swept")
    assert(spark.read.parquet(s"$idx/compact/epoch=1").count() == 3)
    val data = new java.io.File(s"$idx/compact/epoch=1/_SUCCESS")
    val manifest = new java.io.File(s"$idx/manifest/epoch=1/_SUCCESS")
    assert(data.lastModified() <= manifest.lastModified(),
      "the manifest lands after the epoch's data (persist-first)")
    plantGen(idx, 4L)
    fam.fold(4L, spark.read.parquet(fam.parts(): _*),
      Seq(lit(7L).as("n_purged")))
    assert(fam.parts() == Seq(s"$idx/compact/epoch=2"))
    assert(!exists(s"$idx/compact/epoch=1"),
      "the superseded epoch is swept")
    assert(spark.read.parquet(s"$idx/manifest/epoch=2")
      .select(col("n_purged")).collect()(0).getLong(0) == 7L,
      "fold extras ride on the manifest row")
    assert(spark.read.parquet(s"$idx/compact/epoch=2").count() == 5)
  }

  test("one parts() call reads the manifest once: the same number of " +
      "Spark jobs with 1 and with 4 unfolded generations") {
    val idx = freshIdx("jobs")
    (0L to 2L).foreach(plantGen(idx, _))
    val fam = EpochFamily.codes(spark, idx)
    fam.fold(2L, spark.read.parquet(fam.parts(): _*))
    plantGen(idx, 3L)
    assert(fam.parts().length == 2)
    val one = jobsOf(fam.parts())
    (4L to 6L).foreach(plantGen(idx, _))
    assert(fam.parts().length == 5)
    val four = jobsOf(fam.parts())
    assert(one >= 1, "epoch > 0: the manifest read is a job")
    assert(four == one,
      s"$four jobs with 4 unfolded generations vs $one with 1 — the " +
        "manifest must not be re-read per listed generation")
  }

  test("awaitMarker returns at once on a present marker and times out " +
      "naming the query and the awaited path") {
    val idx = freshIdx("marker")
    val present = new java.io.File(s"$idx/ready/_SUCCESS")
    present.getParentFile.mkdirs()
    present.createNewFile()
    val t0 = System.nanoTime()
    IndexLifecycle.awaitMarker(spark, present.getPath, "spec gate", 60000L)
    assert((System.nanoTime() - t0) / 1000000L < 5000L)
    val missing = s"$idx/never/_SUCCESS"
    val ex = intercept[IllegalStateException](
      IndexLifecycle.awaitMarker(spark, missing, "spec gate", 200L))
    assert(ex.getMessage.contains("spec gate") &&
      ex.getMessage.contains(missing), ex.getMessage)
  }
}
