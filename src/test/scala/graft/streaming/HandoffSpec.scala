package graft.streaming

import java.util.concurrent.CountDownLatch

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared async-handoff state machine (Handoff) — the coordination
  * subtleties that used to live hand-rolled in q86/q89 (and now q90),
  * spec'd ONCE against the operator: request/done/adopt ordering,
  * restart re-arm, adoption idempotence, worker death, and
  * first-error retention under concurrent failures.
  */
class HandoffSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("handoff").toString
    s"$d/req"
  }

  private def mk(root: String)(work: (Long, org.apache.spark.sql.Row) => Unit) =
    new Handoff(spark, root,
      r => s"$root/req=$r/_DONE", "handoff-spec")(work)

  private def rec(payload: Long) =
    spark.range(1).select(lit(payload).as("payload"))

  test("submit → done marker lands strictly after the work's artifact; " +
      "adoption fires once and is idempotent (double adopt = no-op)") {
    val root = freshRoot()
    val artifact = new java.io.File(s"$root/../artifact_7")
    val h = mk(root) { (req, r) =>
      // the worker reads its DURABLE record, not in-memory arguments
      assert(r.getAs[Long]("payload") == req * 10)
      java.nio.file.Files.write(artifact.toPath,
        s"req=$req".getBytes)
    }
    h.submit(7L, rec(70L))
    h.joinAll()
    assert(h.requests() == Seq(7L) && h.isDone(7L))
    assert(artifact.exists(), "done marker implies the artifact landed")
    var adopted = Seq.empty[Long]
    val did = h.adoptNewestReady(adopted.contains)(r => adopted :+= r)
    assert(did && adopted == Seq(7L))
    // double adopt: the caller's durable predicate now says adopted —
    // a replayed adopting trigger must find nothing ready
    val again = h.adoptNewestReady(adopted.contains)(r => adopted :+= r)
    assert(!again && adopted == Seq(7L),
      "a second adoption pass must be a no-op")
  }

  test("adoptNewestReady picks the NEWEST ready request and skips " +
      "requests whose worker has not finished") {
    val root = freshRoot()
    val slow = new CountDownLatch(1)
    val h = mk(root) { (req, _) =>
      if (req == 3L) slow.await() // req 3 unfinished while we adopt
    }
    h.submit(1L, rec(10L))
    h.submit(2L, rec(20L))
    h.submit(3L, rec(30L))
    // wait for 1 and 2 to finish (3 is blocked on the latch)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!(h.isDone(1L) && h.isDone(2L)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(h.isDone(2L) && !h.isDone(3L))
    var adopted = Seq.empty[Long]
    assert(h.adoptNewestReady(adopted.contains)(r => adopted :+= r))
    assert(adopted == Seq(2L),
      "newest READY request wins; the unfinished one is not adoptable")
    slow.countDown()
    h.joinAll()
  }

  test("restart re-arm: a durable record with no done marker and no " +
      "live worker is re-launched; healthy/done requests are no-ops") {
    val root = freshRoot()
    @volatile var ran = Set.empty[Long]
    val h = mk(root) { (req, r) =>
      assert(r.getAs[Long]("payload") == req * 10,
        "the re-armed worker must recompute from the durable record")
      ran += req
    }
    // the crash window: record durable, worker never started (a driver
    // death between the two halves of submit)
    h.submitRecord(5L, rec(50L))
    assert(h.requests() == Seq(5L) && !h.isDone(5L) && ran.isEmpty)
    h.rearm(h.requests())
    h.joinAll()
    assert(ran == Set(5L) && h.isDone(5L))
    // re-arm again: done marker present → nothing launches
    h.rearm(h.requests())
    h.joinAll()
    assert(ran == Set(5L), "a done request must never re-run")
    // a SECOND handoff instance over the same durable state (a fresh
    // driver) also must not re-run a done request
    @volatile var reran = false
    val h2 = mk(root)((_, _) => reran = true)
    h2.rearm(h2.requests())
    h2.joinAll()
    assert(!reran, "done markers survive the driver; re-arm trusts them")
  }

  test("a worker that dies leaves NO done marker, joinAll rethrows, and " +
      "re-arm can relaunch after the cause is fixed") {
    val root = freshRoot()
    @volatile var healthy = false
    val h = mk(root) { (_, _) =>
      if (!healthy) throw new IllegalStateException("worker died")
    }
    h.submit(4L, rec(40L))
    val ex = intercept[IllegalStateException](h.joinAll())
    assert(ex.getMessage == "worker died")
    assert(!h.isDone(4L),
      "a failed worker must not land a done marker — adoption would " +
        "trust artifacts that never finished")
    // the in-JVM launched set deliberately dedupes: relaunching in the
    // SAME process is the replayed-trigger case (no second thread). A
    // fresh handoff over the same durable state (the restart) re-arms.
    healthy = true
    val h2 = mk(root)((_, _) => ())
    h2.rearm(h2.requests())
    h2.joinAll()
    assert(h2.isDone(4L))
  }

  test("stray non-numeric directories in the request root are ignored, " +
      "not parsed (listing-derived control flow tolerates debris)") {
    val root = freshRoot()
    val h = mk(root)((_, _) => ())
    h.submit(2L, rec(20L))
    h.joinAll()
    // manual debris / leftover tmp dirs matching the prefix must not
    // kill a trigger with a NumberFormatException (ADVICE r12)
    new java.io.File(s"$root/req=.tmp_debris").mkdirs()
    new java.io.File(s"$root/reqX").mkdirs()
    assert(h.requests() == Seq(2L))
  }

  test("concurrent worker failures keep the FIRST error (CAS, not " +
      "lost-update)") {
    val root = freshRoot()
    val firstFailed = new CountDownLatch(1)
    val h = mk(root) { (req, _) =>
      if (req == 1L) {
        firstFailed.countDown()
        throw new IllegalStateException("first cause")
      } else {
        // deterministically AFTER req 1's failure is captured: wait
        // for its latch, then a beat for the catch block to run
        firstFailed.await()
        Thread.sleep(200)
        throw new IllegalStateException("second cause")
      }
    }
    h.submit(1L, rec(10L))
    h.submit(2L, rec(20L))
    val ex = intercept[IllegalStateException](h.joinAll())
    assert(ex.getMessage == "first cause",
      "the root cause of a failure cascade must survive — a second " +
        "failure overwriting it would mask the diagnosis")
  }

  test("the done marker goes through the Hadoop FileSystem API: an " +
      "explicit file: URI marker path works, is visible to an " +
      "independent FileSystem.exists, and local behavior is unchanged") {
    val root = freshRoot()
    // the cross-cluster shape the scaladoc promises: the WHOLE handoff
    // — request records, the request listing, and the done marker —
    // addressed by URI (here file:), resolved via the Hadoop conf; on
    // a cluster the same strings would be hdfs://... A java.io-backed
    // listing would silently return EMPTY here and disarm every
    // listing-derived decision (r14 review finding).
    val h = new Handoff(spark, s"file:$root",
      r => s"file:$root/req=$r/_DONE", "handoff-spec")((_, _) => ())
    h.submit(9L, rec(90L))
    h.joinAll()
    assert(h.requests() == Seq(9L),
      "the request listing works on a URI root (Hadoop FS, not java.io)")
    assert(h.isDone(9L))
    val p = new org.apache.hadoop.fs.Path(s"file:$root/req=9/_DONE")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(p),
      "an independent Hadoop FileSystem client must see the marker")
    // and the plain local path (what every query passes) still works:
    // java.io observes the same file the Hadoop API wrote
    assert(new java.io.File(s"$root/req=9/_DONE").exists())
  }

  test("in-JVM bookkeeping stays bounded over many requests: " +
      "terminated threads and done requests' launched entries are " +
      "pruned, not accumulated for the life of the stream") {
    val root = freshRoot()
    val h = mk(root)((_, _) => ())
    for (r <- 1L to 25L) {
      h.submit(r, rec(r * 10))
      h.joinAll() // each request completes before the next launches
    }
    assert(h.requests().size == 25, "durable state keeps full history")
    val (liveThreads, launchedEntries) = h.bookkeepingSizes
    assert(liveThreads <= 1 && launchedEntries <= 1,
      s"in-JVM bookkeeping must be O(live workers), not O(history): " +
        s"threads=$liveThreads launched=$launchedEntries after 25 requests")
    // a FAILED request's launched entry is deliberately retained (no
    // in-process retry loop), but it must not block a fresh driver
    val h2 = mk(root)((_, _) => throw new IllegalStateException("boom"))
    h2.submit(26L, rec(260L))
    intercept[IllegalStateException](h2.joinAll())
    assert(h2.bookkeepingSizes._2 == 1,
      "the failed request's launched entry stays — rearm in THIS " +
        "process must not retry it")
  }

  test("a worker's Spark jobs run in the graft-maintenance scheduler pool") {
    val root = freshRoot()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null) jobs.add(e.properties)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h = new Handoff(spark, root, r => s"$root/req=$r/_DONE",
        "handoff-pool-spec")((_, _) => spark.range(100).count())
      h.submit(4L, rec(40L))
      h.joinAll()
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val worker = jobs.asScala.toSeq
      .filter(_.getProperty("spark.jobGroup.id") == "handoff-pool-spec-4")
    assert(worker.nonEmpty, "the worker must run at least one Spark job")
    assert(worker.forall(
      _.getProperty("spark.scheduler.pool") == "graft-maintenance"),
      worker.map(_.getProperty("spark.scheduler.pool")).mkString(", "))
  }
}
