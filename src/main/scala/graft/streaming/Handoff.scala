package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The shared async-maintenance state machine behind every
  * off-the-trigger job in the streaming index family (q86's retrain,
  * q89's compaction fold, q90's gap fold via [[FoldMachine]]):
  *
  *   1. durable REQUEST record over immutable inputs
  *      (`requestRoot/req=N`, overwrite-keyed → at-least-once triggers
  *      re-write their own record idempotently);
  *   2. a concurrent WORKER thread, detached from the launching
  *      trigger's Spark job group (local properties are inheritable
  *      thread-locals, and `query.stop()` cancels the trigger's group —
  *      which would kill the maintenance jobs mid-flight) and isolated
  *      into its own FAIR scheduler pool (so an in-process maintenance
  *      job shares cores with the appending triggers instead of
  *      starving them through the default pool's FIFO);
  *   3. a DONE marker written STRICTLY AFTER every artifact the worker
  *      produced (persist-first: an observer that sees the marker can
  *      trust the artifacts);
  *   4. idempotent one-write ADOPTION by a later trigger (or a
  *      driver-side maintenance pass) — the adoption write itself stays
  *      at the call site, because what "adopted" means (a manifest row,
  *      a switch record) is the caller's durable schema;
  *   5. restart RE-ARM: a pending request whose worker died with a
  *      previous driver is re-launchable from its durable record alone
  *      (`rearm` is a no-op on healthy triggers via the in-JVM
  *      `launched` set, and pays one record read exactly when durable
  *      state says a request exists that THIS process never launched).
  *
  * Worker failures are captured into an AtomicReference with
  * compareAndSet, so when two workers fail concurrently the FIRST
  * cause survives (a lost first error masks the root cause of a
  * cascade); `joinAll` rethrows it on the driver.
  *
  * At 100 TB the worker is typically a separate cluster/job reading the
  * same durable request records; this in-process shape is the
  * single-JVM degenerate case of the same protocol — which is why every
  * decision (request, done, adopt) lives in storage and none in memory.
  * The done marker accordingly goes through the Hadoop `FileSystem`
  * API, not `java.io.File` (r13 task 3): `doneMarkerPathFor` returns a
  * PATH, resolved against the session's Hadoop configuration, so the
  * same code runs when requests, artifacts, and markers live on shared
  * storage. On HDFS `createNewFile` is an atomic create-flag; on an
  * object store it is a PUT visible on close — still sound here,
  * because at most one worker per request runs per JVM, the marker is
  * written strictly after the artifacts, and a duplicate create by a
  * re-armed worker re-marks an identical (idempotently overwritten)
  * artifact set. Local paths resolve to the local filesystem and
  * behave exactly as the previous `java.io.File` implementation did.
  *
  * In-JVM bookkeeping is BOUNDED (r13 task 6): terminated worker
  * threads and the `launched` entries of done requests are pruned on
  * every launch/join, so a long-lived stream holds O(live workers)
  * state, not O(requests ever). A FAILED request's `launched` entry is
  * deliberately kept — forgetting it would turn every later trigger's
  * re-arm into an in-process retry loop; a failed worker re-runs only
  * via a fresh driver's re-arm (the restart path), where the failure
  * is already surfaced by `joinAll`.
  */
final class Handoff(
    spark: SparkSession,
    requestRoot: String,
    doneMarkerPathFor: Long => String,
    label: String)(work: (Long, Row) => Unit) {

  private val threads =
    new java.util.concurrent.CopyOnWriteArrayList[Thread]()
  private val firstError =
    new java.util.concurrent.atomic.AtomicReference[Throwable](null)
  private val launched =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def fsFor(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Request ids present in durable state, sorted. */
  def requests(): Seq[Long] = StreamOps.genDirs(spark, requestRoot, "req=")

  /** Whether `req`'s worker has landed its done marker. */
  def isDone(req: Long): Boolean = {
    val p = new Path(doneMarkerPathFor(req))
    fsFor(p).exists(p)
  }

  /** Bounded-bookkeeping sweep: drop threads that already terminated
    * (their outcome lives in the done marker / `firstError`) and the
    * `launched` entries of DONE requests (re-arm and every launch
    * caller filter on `isDone`, so a done request can never relaunch;
    * failed-but-launched entries stay — see class doc).
    */
  private def prune(): Unit = {
    // TERMINATED, not !isAlive: a thread added to `threads` but not
    // yet started also reports !isAlive, and dropping it in that
    // window would let the worker run unjoined
    threads.removeIf(t => t.getState == Thread.State.TERMINATED)
    launched.forEach { r =>
      if (isDone(r)) { launched.remove(r); () }
    }
  }

  /** (live thread handles, launched entries) — exposed for the
    * bounded-bookkeeping spec only. */
  private[streaming] def bookkeepingSizes: (Int, Int) =
    (threads.size, launched.size)

  /** The durable request record (one row). Workers and re-armed
    * launches read THIS, never in-memory arguments — the record is the
    * unit of restart recovery.
    */
  def record(req: Long): Row =
    spark.read.parquet(s"$requestRoot/req=$req").collect()(0)

  /** Durable request record only — the crash-window half of [[submit]],
    * exposed so recovery paths can be exercised (a driver that dies
    * after the record lands but before the thread starts leaves exactly
    * this state; `rearm` must complete it).
    */
  def submitRecord(req: Long, recordDf: DataFrame): Unit = {
    recordDf.write.mode("overwrite").parquet(s"$requestRoot/req=$req")
    ()
  }

  /** Request + launch: the normal fired-trigger path. */
  def submit(req: Long, recordDf: DataFrame): Unit = {
    submitRecord(req, recordDf)
    launch(req)
  }

  /** Start `req`'s worker thread if this JVM has not already (the
    * `launched` set makes a replayed trigger's re-launch a no-op — a
    * second live thread would race the first's writes to the same
    * artifact directory).
    */
  def launch(req: Long): Unit = if (launched.add(req)) {
    prune()
    val t = new Thread(() => {
      try {
        // detach from the launching trigger's inherited job group
        // (query stop would cancel this thread's jobs otherwise), then
        // claim a named group and the maintenance pool: with
        // spark.scheduler.mode=FAIR the pool fair-shares cores against
        // the triggers' default pool instead of queueing behind them
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.setJobGroup(s"$label-$req", label,
          interruptOnCancel = false)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          "graft-maintenance")
        work(req, record(req))
        // done marker STRICTLY AFTER every artifact `work` produced;
        // Hadoop FileSystem, so the marker lives wherever the
        // artifacts do (createNewFile creates missing parents)
        val ok = new Path(doneMarkerPathFor(req))
        fsFor(ok).createNewFile(ok)
        ()
      } catch {
        case ex: Throwable => firstError.compareAndSet(null, ex)
      }
    }, s"$label-$req")
    t.setDaemon(true)
    threads.add(t)
    t.start()
  }

  /** Close-cycle sweep: delete `req`'s durable request record and
    * forget its in-JVM launch entry — for requests whose outcome is
    * fully subsumed by an adopted durable artifact (a switch record,
    * an epoch manifest), so the request listing stays O(current cycle)
    * instead of one directory per request ever (q94). The explicit
    * forget is load-bearing when the done marker lives INSIDE the
    * request directory (fold requests): after the sweep `isDone` turns
    * false again, so [[prune]] could never drop the entry on its own
    * and a long-lived stream would leak one per request. Safe against
    * re-launch: an adopted request is never in any `pending` set, and
    * re-arm filters on exactly that.
    */
  def sweepRequest(req: Long): Unit = {
    StreamOps.sweepDir(spark, s"$requestRoot/req=$req")
    forget(req)
  }

  /** Drop `req`'s in-JVM launch entry only — for call sites whose
    * adoption body already swept the request directory itself (the
    * shared [[StreamOps.adoptCompactEpoch]], which must carry the
    * sweep so the q89 bench times the true adoption cost). */
  def forget(req: Long): Unit = {
    launched.remove(req)
    ()
  }

  /** Restart re-arm: launch workers for the given pending (unadopted)
    * requests that have no done marker and no live worker in this JVM.
    * No-op on healthy triggers; a re-launch recomputes from the durable
    * record and overwrites its own artifacts idempotently.
    */
  def rearm(pending: Seq[Long]): Unit =
    pending.filterNot(isDone).foreach(launch)

  /** Adopt the NEWEST ready request — done marker present, not yet
    * adopted per the caller's durable predicate — by applying the
    * caller's one-write adoption. Idempotent: a second call (or a
    * replayed adopting trigger) finds nothing ready. Returns whether an
    * adoption happened.
    */
  def adoptNewestReady(alreadyAdopted: Long => Boolean)(
      adopt: Long => Unit): Boolean = {
    val ready = requests().filter(r => !alreadyAdopted(r) && isDone(r))
    ready.maxOption.foreach(adopt)
    ready.nonEmpty
  }

  /** Join every live worker this JVM launched; a silently-hung worker
    * fails HERE (not later as an indeterminate contract on unadopted
    * state), and the first captured worker error is rethrown.
    */
  def joinAll(timeoutMs: Long = 600000L): Unit = {
    threads.forEach { t =>
      t.join(timeoutMs)
      if (t.isAlive)
        throw new IllegalStateException(
          s"$label worker ${t.getName} still running after $timeoutMs ms")
    }
    prune()
    Option(firstError.get()).foreach(ex => throw ex)
  }
}
