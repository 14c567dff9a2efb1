package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** THE canonical serving-path state machine for the streaming index
  * family: gap folding and pointer adoption taken off the trigger
  * (q90_stream_retrain_fold is its registered end-to-end exercise;
  * q86's inline `switchIfReady` stays only because q86's declared
  * contract is the inline handoff, and must not host new work).
  *
  * Durable layout under `idx` (everything overwrite-keyed, decisions
  * pure functions of storage — the replay discipline):
  *
  *   - `arrived/gen=G`    raw batches, immutable once G's trigger ends
  *   - `req/req=R`        retrain requests (owned by `retrainH`)
  *   - `retrain/req=R`    trained model layout + `_RETRAIN_DONE`
  *   - `fold_req/req=S`   gap-fold requests sealing `(sealed_from, S]`
  *   - `retrain/req=R/fold/gen=G`  re-encoded gap generations
  *   - `switch/req=R`     the adopted pointer records ([[SwitchLog]])
  *   - `switch/archive/upto=R`  consolidated closed switch history
  *   - `log/gen=G`        the per-trigger decision log (gates only)
  *
  * An adoption CLOSES its cycle (q94): fold requests and adopted
  * retrain request records are swept (subsumed by the switch record)
  * and the switch log archived down to `keepSwitches` live records —
  * so every listing a trigger pays is O(current cycle), not
  * O(stream lifetime), while the consolidated archive keeps the full
  * history durable for the audit path.
  *
  * [[maintain]] is the whole synchronous cost a trigger pays for the
  * machinery: a directory listing or two, at most ONE 1-row record
  * read (the pointer — [[SwitchLog]]), and at most one 1-row write (a
  * fold request or the switch). The re-encode itself runs in
  * `foldH`'s job-group-detached, maintenance-pooled worker.
  *
  * Two r13 ADVICE findings are fixed HERE, where the invariants live:
  *
  *   - the covered range never starts below the adopted retrain's
  *     snapshot boundary (`math.max(rr, ...)`): fold requests from a
  *     PREVIOUS retrain cycle may linger with smaller ids, and sealing
  *     from them would re-encode generations already inside the new
  *     snapshot — duplicate vec_ids in serving;
  *   - a maintenance-pass submission (atGen past the newest raw) caps
  *     its delivery gate at the newest EXISTING log generation — the
  *     gate is delivery scaffolding, and gating on a log row that
  *     will never be written would hang the worker.
  *
  * `gated=false` drops the delivery gates entirely (the production
  * shape — what q94 and the sharded index drive).
  */
final class FoldMachine(
    spark: SparkSession,
    idx: String,
    retrainH: Handoff,
    label: String,
    stampMsg: String,
    gated: Boolean = true,
    keepSwitches: Int = 2) {

  import StreamOps.genDirs

  private def switchRoot = s"$idx/switch"

  /** Adopted retrain request ids — listing only, no record reads. */
  def adopted(): Seq[Long] = SwitchLog.adopted(spark, switchRoot)

  /** Serving pointer `(modelDir, foldedThrough)`: the last adopted
    * retrain, else the base model at `mDir`. ≤ 1 record read. */
  def pointer(mDir: String): (String, Long) =
    SwitchLog.pointer(spark, switchRoot)
      .map { case (g, f) => (s"$idx/retrain/req=$g", f) }
      .getOrElse((mDir, 0L))

  /** Switch-record reads issued so far against this machine's root —
    * the probe behind the `ptr_reads_bounded` contract. */
  def recordReads(): Long = SwitchLog.recordReads(switchRoot)

  def frozenModels(dir: String): IndexLifecycle.Models =
    IndexLifecycle.models(spark, dir, stampMsg)

  /** The gap-fold worker: re-encodes the sealed range
    * `(sealed_from, sealed_to]` under the requested retrain's frozen
    * models, overwrite-keyed per generation. Shares [[Handoff]]'s
    * request/done/re-arm/adopt protocol with the retrain itself.
    */
  val foldH: Handoff = new Handoff(spark, s"$idx/fold_req",
    g => s"$idx/fold_req/req=$g/_FOLD_DONE", label)({ (_, rec) =>
    // delivery gate from the durable record: hold the re-encode until
    // the named trigger completes, so its append provably lands with
    // the fold in flight (scaffolding, not production). gate_gen ≤ 0
    // means NO gate: a maintenance pass that runs before any log row
    // exists caps to 0, and waiting on log/gen=0 would be the exact
    // 300 s daemon hang the cap exists to prevent
    val gateGen = rec.getAs[Long]("gate_gen")
    if (gated && gateGen > 0)
      IndexLifecycle.awaitMarker(spark, s"$idx/log/gen=$gateGen/_SUCCESS",
        s"$label fold gate", IndexLifecycle.MarkerTimeoutMs)
    val rr = rec.getAs[Long]("retrain_req")
    val rdir = s"$idx/retrain/req=$rr"
    val m = frozenModels(rdir)
    (rec.getAs[Long]("sealed_from") + 1 to rec.getAs[Long]("sealed_to"))
      .foreach { gg =>
        m.encode(spark.read.parquet(s"$idx/arrived/gen=$gg"))
          .write.mode("overwrite").parquet(s"$rdir/fold/gen=$gg")
      }
    ()
  })

  /** The fold/adopt state machine, run at trigger start (and by the
    * driver-side maintenance pass with atGen = maxGen + 1):
    * completed-but-unswitched retrain → either re-arm a pending fold,
    * seal the next residual range into a new fold request, or — when
    * the folded range reaches atGen's doorstep — flip the pointer with
    * ONE switch write. Idempotent: every artifact is overwrite-keyed
    * and the decision derives from durable state.
    * Returns (foldRequested, foldInflight, adopted).
    */
  def maintain(atGen: Long): (Boolean, Boolean, Boolean) = {
    // listing-first, probe-the-residue: done-marker exists() checks are
    // FS round trips on a real store, so they run only on requests the
    // cheap listings cannot classify — the UNADOPTED retrains (≤ 1
    // under the coalescing discipline) and the CURRENT cycle's fold
    // requests. Probing every request ever would re-grow per-trigger
    // cost with the stream's lifetime — the exact creep family the
    // SwitchLog split removed from the pointer.
    // membership is a THRESHOLD, not a set: adoption order follows
    // request order (write-enforced in SwitchLog) and the newest
    // switch record is never archived, so "req > max live adopted" IS
    // the unadopted set — and stays correct in every crash window
    // where the close-cycle sweeps or the archival lag the switch
    // write (a set built from the live listing would not, once closed
    // records move into the archive)
    val maxAdopted = adopted().maxOption.getOrElse(Long.MinValue)
    val unswitched = retrainH.requests().filter(_ > maxAdopted)
      .filter(retrainH.isDone)
    unswitched.maxOption match {
      case None => (false, false, false)
      case Some(rr) =>
        val foldReqs = foldH.requests()
        // fold requests at or below rr belong to CLOSED cycles: their
        // cycle's adoption required an empty pending set, so they are
        // necessarily done — only the current cycle's (> rr, bounded
        // by catch-up rounds in flight) need a done-marker probe
        val pending = foldReqs.filter(_ > rr).filterNot(foldH.isDone)
        if (pending.nonEmpty) {
          // restart re-arm: a fold whose worker died with a previous
          // driver relaunches from its durable record; no-op when
          // the worker is alive in this JVM
          foldH.rearm(pending)
          (false, true, false)
        } else {
          // folds are contiguous WITHIN a retrain cycle: each request
          // seals (previous sealed_to, its own gen]. The covered range
          // never starts below rr — the adopted retrain's snapshot
          // already encodes everything ≤ rr, and a stale fold request
          // lingering from a previous cycle would otherwise drag
          // sealed_from under the snapshot boundary and re-encode
          // generations the snapshot carries (duplicate vec_ids)
          val coveredThrough = math.max(rr, foldReqs.maxOption.getOrElse(rr))
          if (coveredThrough >= atGen - 1) {
            // residual empty — adopt: the durable pointer flip, one
            // write; the observing trigger's own batch encodes fresh
            SwitchLog.write(spark, switchRoot, rr, coveredThrough, atGen)
            closeCycle(rr)
            (false, false, true)
          } else {
            // cap any new seal at the max EXISTING raw: a trigger's
            // own gen is always durable by the time it runs maintain
            // (raw persisted first), but the driver-side maintenance
            // pass calls with atGen = maxGen + 1, and sealing a ghost
            // generation would send the worker after a raw that was
            // never written. Listed HERE, on the seal path only — an
            // adoption never needs it, and the listing is an FS round
            // trip on the trigger path the class doc budgets
            val maxRaw =
              genDirs(spark, s"$idx/arrived", "gen=").maxOption.getOrElse(0L)
            val sealTo = math.min(atGen, maxRaw)
            // seal the residual (the catch-up recursion): the first
            // fold gates on the NEXT trigger (append-during-fold
            // proof); later folds gate on the requesting trigger's
            // own row so the harness stays deterministic. A
            // maintenance-pass submission (atGen past the newest raw)
            // caps the gate at the newest EXISTING log row — gating
            // on a row that will never be written would hang the
            // worker 300 s and swallow the failure in a daemon thread
            val gateWanted = if (foldReqs.isEmpty) sealTo + 1 else sealTo
            val gateGen =
              if (atGen > maxRaw)
                math.min(gateWanted,
                  genDirs(spark, s"$idx/log", "gen=").maxOption.getOrElse(0L))
              else gateWanted
            // request id = sealed_to: `coveredThrough` above derives
            // the covered range from request IDS alone (no record
            // reads on the trigger path), which is sound only while
            // the two stay equal — including for a maintenance-
            // submitted capped request
            foldH.submit(sealTo, spark.range(1)
              .select(lit(sealTo).as("req_gen"), lit(rr).as("retrain_req"),
                lit(coveredThrough).as("sealed_from"),
                lit(sealTo).as("sealed_to"), lit(gateGen).as("gate_gen")))
            (true, false, false)
          }
        }
    }
  }

  /** Close the adopted cycle's scaffolding — the once-per-adoption
    * bounding step (q94), never on the quiet trigger path. Every fold
    * request is subsumed by the switch record just written (its
    * `folded_through` IS the covered range — adoption requires the
    * pending set empty, so they are all done), and retrain request
    * records at-or-below the adopted req are subsumed by the pointer,
    * so both are swept: the per-trigger request listings stay
    * O(current cycle) for the stream's lifetime instead of one
    * directory per cycle ever. The switch log itself is archived down
    * to `keepSwitches` live records, the closed history consolidated
    * into one parquet the audit path reads in one job. Sweeping the
    * fold requests also removes the stale-request hazard STRUCTURALLY
    * (the r13 ADVICE scenario): the `math.max(rr, …)` seal guard above
    * stays as the belt for the crash window where this sweep dies
    * between the switch write and the delete — a window FoldMachineSpec
    * pins with planted stale state. Retrain ARTIFACTS (`retrain/req=R`:
    * models, snapshot codes, folds) are never swept here — serving and
    * the q93 time-travel reconstructions read them.
    */
  private def closeCycle(rr: Long): Unit = {
    foldH.requests().foreach(foldH.sweepRequest)
    retrainH.requests().filter(_ <= rr).foreach(retrainH.sweepRequest)
    SwitchLog.archive(spark, switchRoot, keepSwitches)
    ()
  }

  /** The maintenance belt: join, [[maintain]] at `atGen`, repeat until
    * the machine reports QUIET (nothing requested, in flight or
    * adopted). Each round re-arms, seals, adopts or is the terminal
    * no-op, so a fixed bound suffices — and a machine still busy after
    * it is a fault, thrown, never a silently unadopted pointer.
    */
  def settle(atGen: Long): Unit = {
    val quiet = (1 to FoldMachine.SettleRounds).exists { _ =>
      joinAll()
      val (requested, inflight, adopted) = maintain(atGen)
      !requested && !inflight && !adopted
    }
    joinAll()
    if (!quiet)
      throw new IllegalStateException(s"$label not quiet after " +
        s"${FoldMachine.SettleRounds} maintenance rounds at gen $atGen")
  }

  /** Join both workers — retrain first (the fold depends on its
    * artifacts), then the fold. */
  def joinAll(): Unit = { retrainH.joinAll(); foldH.joinAll() }
}

object FoldMachine {
  /** Rounds [[FoldMachine.settle]] allows before declaring a fault. */
  private val SettleRounds = 8
}
