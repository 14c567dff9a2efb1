package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ProductQuantizer.HouseM

/** Structured Streaming over the bounded `events` table: the stream is
  * driven to completion with processAllAvailable() against a memory sink,
  * so results are batch-equivalent and can face the same DuckDB oracle as
  * any other query (SURVEY §2.2 Q20).
  *
  * Scale notes: these are the standard production shapes — tumbling /
  * sliding window aggregation with a watermark bounding state, and
  * streaming dropDuplicates whose state is likewise watermark-expired.
  * On an unbounded source the same code runs with a real trigger; the
  * memory sink + complete/update mode here is only the test harness.
  */
object StreamOps {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---- shared helpers for the persisted-index streaming family ------

  /** Recursively delete `f` — the per-run scratch-state wipe (harness
    * state is local by construction; production SWEEPS go through
    * [[sweepDir]]). */
  private def wipeDir(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(wipeDir)
    f.delete(); ()
  }

  /** Delete a superseded generation/epoch directory through the Hadoop
    * FileSystem API — the SWEEP half of an adoption is production
    * protocol (it runs wherever the artifacts live: HDFS, object
    * store), unlike the per-run scratch wipes, which are harness-local
    * by construction. Recursive; silently a no-op on already-absent
    * paths, because sweeps are replayed idempotently (an adopting
    * trigger that re-runs re-sweeps directories its first run already
    * removed). Completes the r13 finding that markers/sweeps were
    * `java.io.File`-only: markers moved in [[Handoff]], sweeps here;
    * the remaining `java.io` uses are delivery-gate scaffolding and
    * scratch wipes, documented as harness-only.
    */
  private[graft] def sweepDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Numeric suffixes of `parent`'s `prefix`-named child directories,
    * sorted — the durable generation/epoch/request listing every loop
    * decision derives from. Empty when `parent` does not exist.
    * Non-numeric suffixes (a leftover `gen=.tmp`, manual debris in the
    * scratch tree) are SKIPPED rather than parsed: listing-derived
    * control flow must tolerate stray directories, not die in a
    * NumberFormatException inside a trigger or fold thread.
    *
    * Listed through the Hadoop FileSystem API (r14 review finding): a
    * `java.io.File` listing silently returns EMPTY on an `hdfs://` or
    * `s3a://` root, which would disable every listing-derived decision
    * — sweeps would stop sweeping, the adopted set would read empty —
    * exactly on the shared-storage deployments the marker/sweep ports
    * exist for. Local paths list identically (checksum side-files
    * start with `.` and never match a `gen=`/`req=` prefix). The
    * session is explicit (like [[sweepDir]]'s) so the FileSystem
    * always resolves against the configuration that wrote the data —
    * never a bare default that would lack `spark.hadoop.*` settings.
    * One listStatus, no exists() pre-check: the extra call would
    * double remote metadata round-trips and open a TOCTOU window;
    * absent-parent is the catch branch instead.
    */
  private[graft] def genDirs(
      spark: SparkSession, parent: String, prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(parent)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names =
      try fs.listStatus(p).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty[String] }
    names.filter(_.startsWith(prefix))
      .map(_.drop(prefix.length))
      .filter(s => s.nonEmpty && s.forall(_.isDigit))
      .map(_.toLong).sorted
  }

  /** The canonical (cell_id, vec_id, codes) projection of a stored
    * code generation. */
  private def codeCols(df: DataFrame): DataFrame =
    df.select(col("cell_id"), col("vec_id"), col("codes"))

  /** The manifest-last PUBLISH half every fold and adoption shares:
    * one 1-row manifest write for epoch `prevEpoch + 1` covering
    * generations ≤ `gen` (plus caller extras — purge accounting), then
    * the sweep of the superseded live generations and prior epochs.
    * Idempotent: the manifest is overwrite-keyed and re-sweeping
    * already-swept directories is a no-op, so a replayed fold or
    * adoption republishes coherently. Extracted once (r14 review
    * finding): the same 7-line tail lived inline in every fold body,
    * and the round's sweep port had to edit each clone — a protocol
    * change must have exactly one place to land.
    */
  private[graft] def publishEpoch(
      spark: SparkSession, liveRoot: String, epochRoot: String,
      manifestRoot: String, prevEpoch: Long, gen: Long,
      extras: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    spark.range(1)
      .select(lit(prevEpoch + 1).as("epoch") +:
        lit(gen).as("folded_through") +: extras: _*)
      .write.mode("overwrite").parquet(s"$manifestRoot/epoch=${prevEpoch + 1}")
    genDirs(spark, liveRoot, "gen=").filter(_ <= gen)
      .foreach(g => sweepDir(spark, s"$liveRoot/gen=$g"))
    genDirs(spark, epochRoot, "epoch=").filter(_ <= prevEpoch)
      .foreach(p => sweepDir(spark, s"$epochRoot/epoch=$p"))
  }

  /** The compaction ADOPTION body — [[publishEpoch]] on the code
    * family's directory names, plus the close-cycle sweep of the
    * adopted fold REQUEST records (q94 discipline applied to the
    * compaction family: a request at-or-below the new manifest's
    * `folded_through` is subsumed by it, and leaving the records would
    * grow the `freq` listing — filtered by every trigger — one
    * directory per fold forever). Shared between the q89 loop's
    * `adoptIfReady` and the `q89_adopt_trigger` bench so the benched
    * path IS the production path, sweep included, and cannot silently
    * drift from it (ADVICE r13).
    */
  private[graft] def adoptCompactEpoch(
      spark: SparkSession, idx: String, prevEpoch: Long, req: Long): Unit = {
    publishEpoch(spark, s"$idx/codes", s"$idx/compact", s"$idx/manifest",
      prevEpoch, req)
    genDirs(spark, s"$idx/freq", "req=").filter(_ <= req)
      .foreach(r => sweepDir(spark, s"$idx/freq/req=$r"))
  }

  /** One row, one boolean `outCol`: the two code tables are
    * ROW-IDENTICAL — same ids, same cell assignments, same PQ codes
    * (full outer join; a null on either side or any field mismatch
    * counts against). The shared equality contract every fold/handoff
    * query (q86/q87/q88) proves against its one-shot shape.
    */
  private def sameCodeRows(
      streamed: DataFrame, oneShot: DataFrame, outCol: String): DataFrame =
    streamed.select(col("vec_id"), col("cell_id").as("c_s"),
        col("codes").as("k_s"))
      .join(oneShot.select(col("vec_id"), col("cell_id").as("c_b"),
        col("codes").as("k_b")), Seq("vec_id"), "full")
      .agg((count(when(col("c_s").isNull || col("c_b").isNull ||
        col("c_s") =!= col("c_b") || col("k_s") =!= col("k_b"), 1)) === 0)
        .as(outCol))

  /** Streaming view of events.parquet (nanos → micros like Tables.load).
    * The file-stream source requires a DIRECTORY; testdata ships a single
    * parquet file, so stage a symlink to it in a per-sf temp directory.
    */
  /** Stage a single-file table behind a directory (the file-stream
    * source requires one) and open it as a stream.
    */
  private def tableStream(
      spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val streamDir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${table}_stream_${math.abs(sfDir.hashCode)}")
    if (!Files.exists(streamDir)) {
      Files.createDirectories(streamDir)
      try Files.createSymbolicLink(
        streamDir.resolve(s"$table.parquet"),
        Paths.get(s"$sfDir/$table.parquet"))
      catch {
        // concurrent run staged the same (content-identical) link first
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/$table.parquet").schema
    spark.readStream
      .schema(schema)
      .parquet(streamDir.toString)
  }

  /** Streaming view of events with `ts` normalized to TimestampType via
    * the same dtype branch as the batch loader (Tables.normalizeEventsTs),
    * so both fixture encodings (raw-nanos INT64 / TIMESTAMP_MICROS NTZ)
    * stream identically.
    */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.normalizeEventsTs(tableStream(spark, sfDir, "events"))

  /** Run a streaming aggregation to completion against a memory sink and
    * return the final table.
    */
  private def runToMemory(
      spark: SparkSession, df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  /** Tumbling 1-hour windows with a 10-minute watermark. */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(spark, agg, s"tumbling_${System.nanoTime()}", "complete")
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))
      .orderBy("w_start", "event_type")
  }

  /** Sliding 2-hour windows every 1 hour (each event lands in 2 windows). */
  def sliding(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(spark, agg, s"sliding_${System.nanoTime()}", "complete")
      .select(col("window.start").as("w_start"), col("n_events"))
      .orderBy("w_start")
  }

  /** Streaming dropDuplicates state: first event per (user_id, event_type)
    * key; result counted per event_type — batch-equivalent to
    * COUNT(DISTINCT user_id) per type.
    */
  def dedupState(spark: SparkSession, sfDir: String): DataFrame = {
    val dedup = eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    runToMemory(spark, dedup, s"dedup_${System.nanoTime()}", "complete")
      .orderBy("event_type")
  }

  final case class Ev(user_id: Long, value: Double)
  final case class UserState(n: Long, cents: Long)

  /** Custom keyed state via flatMapGroupsWithState: per-user event count
    * and an exact money total held in a mutable state object (cents as a
    * long — order-independent, so batch-equivalent). The state API is
    * what arbitrary stateful pipelines (sessionization, CDC merge,
    * feature windows) build on at scale; state lives in the state store,
    * partitioned by key, not on the driver.
    */
  def statefulCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ds = eventsStream(spark, sfDir)
      .select(col("user_id"), col("value")).as[Ev]
    val out = ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Ev], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L))
          var n = prev.n
          var cents = prev.cents
          events.foreach { e => n += 1; cents += math.round(e.value * 100) }
          state.update(UserState(n, cents))
          Iterator((user, n, cents))
      }
      .toDF("user_id", "n_events", "total_cents")
    runToMemory(spark, out, s"stateful_${System.nanoTime()}", "update")
      .orderBy("user_id")
  }

  /** Stream-stream inner join: purchases within 1 hour after a click by
    * the same user. Both sides carry watermarks and the join condition
    * bounds event time on both sides — that pair is what lets the state
    * store evict rows (without it, stream-stream join state grows
    * forever). Inner-join matches emit eagerly in append mode, so the
    * bounded input drains completely under processAllAvailable.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsStream(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    runToMemory(spark, joined, s"ssjoin_${System.nanoTime()}", "append")
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Streaming CDC upsert via foreachBatch: each micro-batch is reduced to
    * its latest row per user, then merged into a parquet snapshot with a
    * VERSIONED-argmax upsert (keep the row with the greatest (ts,
    * event_id) per key). Unlike blind last-batch-wins, the precedence
    * comparison makes the final snapshot independent of how the input was
    * micro-batched — so the bounded run is batch-equivalent to a global
    * per-key argmax and faces a plain SQL oracle. Snapshots alternate
    * between versioned directories (read vN, write vN+1): at scale this is
    * the compact-on-write snapshot-maintenance shape; a table format would
    * replace the directory flip with a transactional commit.
    */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.expressions.Window
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stream_snap_${math.abs(sfDir.hashCode)}_${System.nanoTime()}")
    Files.createDirectories(root)
    val keyW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    def latestPerUser(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(keyW))
        .filter(col("__rn") === 1)
        .drop("__rn")
    var lastVersion = -1L
    val stream = eventsStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val updates = latestPerUser(batch.toDF())
        val merged =
          if (lastVersion < 0) updates
          else latestPerUser(
            spark.read.parquet(root.resolve(s"v$lastVersion").toString)
              .unionByName(updates))
        merged.write.mode("overwrite").parquet(root.resolve(s"v$batchId").toString)
        lastVersion = batchId
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(root.resolve(s"v$lastVersion").toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), max(col("ts")).as("last_ts"))
      .orderBy("event_type")
  }

  /** Stream-static join: the streaming fact joined to a broadcast
    * dimension table — the enrichment shape. The static side is planned
    * per micro-batch; broadcast keeps the stream side shuffle-free.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, sfDir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(spark, joined, s"ssdim_${System.nanoTime()}", "complete")
      .orderBy("c_mktsegment")
  }

  /** Ingestion-time near-duplicate detection: documents arrive as a
    * stream, each is MinHash-banded (the same native expression and 16×8
    * config as the batch pipeline), and per-BUCKET keyed state
    * (flatMapGroupsWithState) remembers which documents have landed in
    * each band bucket, emitting a candidate pair the moment a new
    * arrival collides with a remembered one. Candidates are then
    * exact-Jaccard verified against the corpus, so the output equals the
    * batch q23_minhash_lsh ground truth regardless of arrival order or
    * micro-batch boundaries (bucket membership is order-independent and
    * the verifier is exact).
    *
    * Scale: state is one doc-id list per OCCUPIED band bucket,
    * partitioned by bucket key across the state store — the streaming
    * twin of the batch postings-list shuffle. Two bounds keep a hot
    * bucket from degrading: membership checks go through a Set (O(1)
    * per arrival, not a list scan), and a bucket saturates at
    * `maxBucket` members — after that, new arrivals are dropped without
    * pair emission (the streaming twin of the batch over-full-bucket
    * cap; already-emitted candidates can't be retracted, but every
    * candidate is exact-verified downstream, so the cap bounds WORK,
    * never correctness). For continuous deployments, `stateTtlMs`
    * expires idle buckets via processing-time timeout, trading recall
    * against old duplicates for a bounded bucket COUNT — the same
    * tradeoff q22_dedup_incremental makes in batch. The TTL is opt-in
    * (0 = off) because this bundled drive is a FINITE run:
    * processAllAvailable never converges once processing-time timeouts
    * keep scheduling batches.
    */
  def streamNearDup(spark: SparkSession, sfDir: String): DataFrame =
    streamNearDupFrom(spark, sfDir, tableStream(spark, sfDir, "documents"))

  /** The stateful pipeline behind [[streamNearDup]], parameterized on the
    * document stream so tests can force multi-micro-batch arrival
    * (maxFilesPerTrigger) and assert batch-boundary independence, and on
    * the bucket cap / TTL so specs can exercise saturation and expiry.
    */
  def streamNearDupFrom(
      spark: SparkSession, sfDir: String, docStream: DataFrame,
      maxBucket: Int = graft.queries.LlmOps.LshMaxBucket,
      stateTtlMs: Long = 0L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.{MinHashSignature, WordShingles}
    val bands = 16; val rows = 8
    val banded = docStream
      .select(col("doc_id"), WordShingles.word_shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        posexplode(MinHashSignature.minhash_band_keys(col("sh"), bands, rows))
          .as(Seq("band", "key")))
      .select(col("band"), col("key"), col("doc_id"))
      .as[(Int, Long, Long)]
    val timeout =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val cand = banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[List[Long], (Long, Long)](
        OutputMode.Append, timeout) {
        (_, members, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seenList = state.getOption.getOrElse(Nil)
            val seen = seenList.toSet
            val fresh = members.map(_._3).toList.distinct.sorted
              .filterNot(seen)
            // saturation cap: admit up to maxBucket members total
            val admit = fresh.take(math.max(0, maxBucket - seenList.size))
            val out = List.newBuilder[(Long, Long)]
            for (n <- admit; s <- seenList)
              out += ((math.min(n, s), math.max(n, s)))
            for (i <- admit.indices; j <- (i + 1) until admit.length)
              out += ((admit(i), admit(j)))
            if (admit.nonEmpty) state.update(seenList ++ admit)
            if (stateTtlMs > 0 && state.exists)
              state.setTimeoutDuration(stateTtlMs)
            out.result().iterator
          }
      }
      .toDF("doc_a", "doc_b")
    val candTable =
      runToMemory(spark, cand, s"neardup_${System.nanoTime()}", "append")
        .dropDuplicates("doc_a", "doc_b")
    graft.queries.LlmOps.verifyJaccardPairs(spark, sfDir, candTable, 0.8)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-user running stats through Spark 4's `transformWithState` —
    * the modern arbitrary-state API (typed `ValueState` + `MapState`
    * with per-state TTL, RocksDB-backed) that supersedes
    * flatMapGroupsWithState. The aggregate is commutative (count, exact
    * cents sum, distinct-type set), so the final emitted version per
    * user equals the batch rollup under any micro-batch slicing or
    * arrival order. State shapes: one tuple ValueState + one MapState
    * keyed by event_type per user, partitioned by key in the state
    * store — nothing accumulates on the driver. TTLConfig.NONE here
    * (bounded drive); production unbounded runs would set a TTL to
    * bound idle-user state, which this API makes per-state declarative
    * instead of hand-rolled timeout bookkeeping.
    */
  def streamUserStatsTws(spark: SparkSession, sfDir: String): DataFrame =
    streamUserStatsTwsFrom(spark, eventsStream(_, sfDir),
      derivedStateParts(spark, sfDir))

  /** Scale-adaptive state-shard count for the RocksDB TWS drives (r18,
    * r17 verdict #5): a stateful operator instantiates ONE RocksDB
    * store per partition PER TRIGGER, and a state-shard sweep (SCALING.md)
    * measured that cost as the dominant term of the bounded drives at
    * BOTH 8 and 32 cores (32→8 shards: 2.7→1.5 s at 32 cpus, 2.6→1.7 s
    * at 8 cpus). Derived from the stream's INPUT parallelism — the
    * events scan's split count, floored at 4, capped at the session's
    * shuffle partitions — never from the local core count: a one-split
    * test feed gets few shards, a corpus-scale feed (splits >> cores)
    * keeps the session's full shard count. The probe reads a raw scan's
    * partition arithmetic (no job), the fanOut discipline inverted.
    */
  private def derivedStateParts(spark: SparkSession, sfDir: String): Option[Int] = {
    val splits = graft.Tables.load(spark, sfDir, "events").rdd.getNumPartitions
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Some(math.min(cap, math.max(4, splits)))
  }

  /** The pipeline behind [[streamUserStatsTws]], parameterized on the
    * event-stream BUILDER so the spec can force scrambled
    * multi-micro-batch arrival and assert batch-equivalence. A builder
    * rather than a DataFrame because the whole pipeline runs on the
    * isolated RocksDB session (see [[rocksDbSession]]) and the source
    * must be constructed there. `stateParts` (None = inherit) sizes the
    * stateful operator's pinned partition count; the converged output
    * is partitioning-invariant (commutative state, asserted by the
    * scrambled-arrival spec), so this is cost-only.
    */
  def streamUserStatsTwsFrom(
      spark: SparkSession, mkEvents: SparkSession => DataFrame,
      stateParts: Option[Int] = None): DataFrame = {
    val iso = rocksDbSession(spark, stateParts)
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import iso.implicits._
    val ds = mkEvents(iso)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_type"))
      .as[(Long, Long, String)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new UserStatsProcessor,
        TimeMode.None(), OutputMode.Append())
    convergedUserStats(
      runToMemory(iso, out.toDF(), s"tws_${System.nanoTime()}", "append"))
  }

  /** transformWithState requires the RocksDB state store. The drive
    * runs on an ISOLATED child session (same SparkContext, own conf —
    * the q06_join_skew_aqe pattern) with the provider set once, so a
    * concurrent drive on the shared session can never observe the
    * switch; the previous mutate-and-restore on the shared conf relied
    * on a strictly-sequential-drives invariant this removes.
    */
  private def rocksDbSession(
      spark: SparkSession, stateParts: Option[Int] = None): SparkSession = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // State-shard count (r18, r17 verdict #5): a stateful operator pins
    // its partition count at checkpoint creation, and each partition is
    // one RocksDB store instance paid PER TRIGGER (SCALING.md records
    // the cost curve). Precedence: caller's derived value (see
    // derivedStateParts) > inherit the session's shuffle partitions.
    val (parts, source) = statePartitions(stateParts,
      iso.conf.get("spark.sql.shuffle.partitions"))
    iso.conf.set("spark.sql.shuffle.partitions", parts)
    // logged per drive: a checkpoint that is reused keeps the count it
    // was created with, whatever this says
    logger.info(s"RocksDB state partitions: $parts ($source)")
    iso
  }

  /** The state-partition count [[rocksDbSession]] applies and where it
    * came from: `derived` (the caller's value) or `inherited` (the
    * session's shuffle partitions), in that precedence.
    */
  private[streaming] def statePartitions(
      stateParts: Option[Int], inherited: String): (String, String) =
    stateParts.map(_.toString -> "derived")
      .getOrElse(inherited -> "inherited")

  /** Every batch emits a versioned row per touched user; the converged
    * aggregate is the per-user max-ver row.
    */
  private def convergedUserStats(table: DataFrame): DataFrame =
    table.groupBy(col("user_id"))
      .agg(max(struct(col("ver"), col("n_events"), col("total_cents"),
        col("n_types"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.total_cents").as("total_cents"),
        col("s.n_types").as("n_types"))
      .orderBy("user_id")

  /** Warm-started transformWithState — the backfill-then-stream
    * continuity pattern: per-user state is BOOTSTRAPPED from a batch
    * aggregate of the historical half of events (even event_ids), then
    * the stream delivers only the other half (odd event_ids), yet the
    * emitted aggregates equal the FULL-corpus rollup for every user the
    * stream touches. At 100 TB this is how a streaming pipeline takes
    * over from a batch backfill without reprocessing the corpus: one
    * batch aggregate seeds the state store, increments stream from the
    * cutover point.
    */
  def streamUserStatsBootstrap(spark: SparkSession, sfDir: String): DataFrame =
    streamUserStatsBootstrapFrom(spark, sfDir, eventsStream(_, sfDir),
      derivedStateParts(spark, sfDir))

  /** The pipeline behind [[streamUserStatsBootstrap]], parameterized on
    * the event stream so the spec can force scrambled multi-micro-batch
    * arrival of the streamed half (initial state must survive — and be
    * applied exactly once — across every batch, not just batch 0).
    */
  def streamUserStatsBootstrapFrom(
      spark: SparkSession, sfDir: String,
      mkEvents: SparkSession => DataFrame,
      stateParts: Option[Int] = None): DataFrame = {
    val iso = rocksDbSession(spark, stateParts)
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import iso.implicits._
    def shaped(df: DataFrame): DataFrame =
      df.select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_type"), col("event_id"))
    val initState = shaped(graft.Tables.load(iso, sfDir, "events"))
      .filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        collect_set(col("event_type")).as("types"))
      .as[(Long, Long, Long, Seq[String])]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3, t._4))
    val ds = shaped(mkEvents(iso))
      .filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("cents"), col("event_type"))
      .as[(Long, Long, String)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new UserStatsBootstrapProcessor,
        TimeMode.None(), OutputMode.Append(), initState)
    convergedUserStats(
      runToMemory(iso, out.toDF(),
        s"twsboot_${System.nanoTime()}", "append"))
  }

  /** Streaming priority sample — the streaming twin of
    * q48_priority_sample: maintain the k-row weighted
    * sample-without-replacement of everything seen so far. Because each
    * doc's priority (w·65536 / (u16(md5)+1)) is deterministic and
    * data-independent, and "keep the k largest priorities" is an
    * associative, commutative monoid fold, the running sample equals
    * the batch top-k REGARDLESS of micro-batch slicing or arrival
    * order — so it faces the exact q48 oracle. Per trigger the
    * distributed work is a TakeOrderedAndProject(k) over the
    * micro-batch only; the carried state is the k-row sample itself
    * (driver-scale by definition of a sample, same stance as the
    * materialized IVF centroids).
    */
  def streamPrioritySample(spark: SparkSession, sfDir: String): DataFrame =
    streamPrioritySampleFrom(
      spark, tableStream(spark, sfDir, "documents"), 20)

  /** Ingestion-time drift monitoring: the q29_drift_psi shape run ON
    * the stream — per-day fixed-edge bucket counts of `value`
    * maintained as streaming state (days × 10 buckets, driver-scale by
    * construction), then each day's smoothed distribution scored
    * against the STATIC full-corpus reference with the population
    * stability index. Fixed bucket edges are what make the monitor
    * exact and mergeable — no quantile estimation in the hot path.
    * Batch-equivalent (stateless bucketing + commutative counts), so
    * it faces a full SQL oracle.
    */
  def streamDrift(spark: SparkSession, sfDir: String): DataFrame = {
    def bucket(c: org.apache.spark.sql.Column) =
      least(floor(c / 50).cast("long"), lit(9L))
    val agg = eventsStream(spark, sfDir)
      .select(to_date(col("ts")).as("day"), bucket(col("value")).as("bucket"))
      .groupBy("day", "bucket")
      .agg(count(lit(1)).as("n"))
    // snapshot the memory-sink view (days × 10 rows): the monitor
    // self-joins it (grid ⟕ counts ⟗ totals), and MemoryPlan views
    // don't re-alias attributes across accesses
    val cur = runToMemory(spark, agg, "stream_drift", "complete")
      .localCheckpoint()
    val static = graft.Tables.load(spark, sfDir, "events")
      .select(bucket(col("value")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_ref"))
    val refTot = static.agg(sum(col("n_ref")).as("rt"))
    val grid = cur.select(col("day")).distinct()
      .crossJoin(spark.range(0, 10).select(col("id").as("bucket")))
    val tots = cur.groupBy("day").agg(sum(col("n")).as("tot"))
    grid
      .join(cur, Seq("day", "bucket"), "left")
      .join(tots, Seq("day"))
      .join(static, Seq("bucket"), "left")
      .crossJoin(broadcast(refTot))
      .select(col("day"),
        ((coalesce(col("n"), lit(0L)) + lit(1.0)) / (col("tot") + lit(10.0)))
          .as("p_cur"),
        ((coalesce(col("n_ref"), lit(0L)) + lit(1.0)) / (col("rt") + lit(10.0)))
          .as("p_ref"))
      .groupBy("day")
      .agg(round(sum((col("p_cur") - col("p_ref")) *
        log(col("p_cur") / col("p_ref"))), 6).as("psi"))
      .orderBy("day")
  }

  /** Ingestion-time quality filtering with the q61 batch-trained
    * perceptron — the DEPLOY step of train→calibrate→filter: weights
    * come from `Perceptron.train` on the static corpus, the cutoff
    * from `Classifier.calibratedThreshold` (the best-F1 operating
    * point — both offline, both driver-scale artifacts); every
    * ARRIVING document is then scored by `Perceptron.marginExpr` —
    * the native codegen'd `PerceptronMarginF` kernel with model +
    * threshold baked into the plan as constants — no shuffle, no
    * per-doc state; the only streaming state
    * is the tiny per-(lang, keep) running counts. Batch-equivalent by
    * construction (stateless scoring + commutative counts), so it
    * faces a full SQL oracle that replays training, calibration AND
    * scoring.
    */
  def streamQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Perceptron
    import graft.queries.Classifier
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val feat = Classifier.perceptronFeatures(docs)
    val r = Perceptron.train(feat, buckets = 32, epochs = 4)
    val theta = Classifier.calibratedThreshold(
      Perceptron.margins(Perceptron.withBias(feat), r.weights))
    val scored = tableStream(spark, sfDir, "documents")
      .select(col("lang"),
        (Perceptron.marginExpr(col("text"), r.weights) >= theta).as("keep"))
    val agg = scored.groupBy(col("lang"), col("keep"))
      .agg(count(lit(1)).as("n"))
    runToMemory(spark, agg, "stream_quality", "complete")
      .orderBy("lang", "keep")
  }

  /** Streaming continuation of q68's persisted ANN index: new vector
    * batches ARRIVE on a stream and are appended to the stored IVF-PQ
    * index as they come — each micro-batch is assigned to the FROZEN
    * coarse cells and PQ-encoded with the FROZEN codebooks
    * (`ProductQuantizer.ivfPqEncodeWith`, no training pass) inside
    * `foreachBatch`, landing as one new index generation per trigger;
    * serving reads the union of all persisted generations. This is the
    * ingestion-time shape of index maintenance at 100 TB: O(micro-batch)
    * work per trigger, model tables broadcast, no retrain, no state
    * store (the index itself IS the state, durable and queryable
    * mid-stream).
    *
    * Contracts (one row, deterministic): the stored index covers
    * base + every arrived vector; the arrivals really landed across
    * multiple generations (multi-trigger delivery, not one big batch);
    * and serving over the streamed index equals — same ids, same ADC
    * distances — serving over the base generation plus a ONE-SHOT batch
    * append of the same vectors (frozen-model encoding is deterministic,
    * so micro-batch slicing must not change the index).
    */
  def streamIndexAppend(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val base = e.filter(col("vec_id") =!= 0 && pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = e.filter(col("vec_id") =!= 0 && pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      "graft_q69_index_" + graft.RunPaths.keyFor(sfDir))
    // offline build: the shared persist-first frozen layout (every
    // stored artifact derives from the READ-BACK frozen floats)
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q69 frozen coarse-centroid table", withOccupancy = false)
    // deliver the arrivals across 4 hash-scrambled micro-batches
    val splitDir = graft.RunPaths.scratch(
      "graft_q69_arrivals_" + graft.RunPaths.keyFor(sfDir))
    arriving.repartition(4, xxhash64(col("vec_id")))
      .write.mode("overwrite").parquet(splitDir)
    val schema = spark.read.parquet(splitDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // gen 0 is the base build; micro-batch id b lands as gen b+1.
        // overwrite per generation keeps re-runs idempotent.
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$idx/codes/gen=${id + 1}")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val stored = spark.read.parquet(s"$idx/codes")
    def serve(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF,
      codes.select(col("cell_id"), col("vec_id"), col("codes")), "vec_id",
      nProbe = 4, k = 10)
    val top = serve(stored)
    // one-shot comparison: base generation + a single batch-append of
    // ALL arrivals — the index micro-batch slicing must reproduce
    val oneShot = serve(
      spark.read.parquet(s"$idx/codes/gen=0")
        .select(col("cell_id"), col("vec_id"), col("codes"))
        .unionByName(ProductQuantizer.ivfPqEncodeWith(
          arriving, "vec_id", "embedding", HouseM, coarseF, booksF)))
    val same = top.select(col("vec_id"), col("adc_dist").as("d_s"))
      .join(oneShot.select(col("vec_id"), col("adc_dist").as("d_b")),
        Seq("vec_id"), "full")
      .agg((count(lit(1)) === 10).as("n_ok"),
        (count(when(col("d_s").isNull || col("d_b").isNull ||
          col("d_s") =!= col("d_b"), 1)) === 0).as("dist_ok"))
    stored.agg(count(lit(1)).as("n_index"),
        (count(when(col("gen") >= 1, 1))).as("n_arrived"),
        (countDistinct(when(col("gen") >= 1, col("gen"))) >= 2)
          .as("multi_trigger_ok"))
      .crossJoin(top.agg(count(lit(1)).as("n_results")))
      .crossJoin(same)
      .select(col("n_index"), col("n_arrived"), col("multi_trigger_ok"),
        col("n_results"),
        (col("n_ok") && col("dist_ok")).as("same_as_batch_append"))
  }

  /** Streaming DELETES for the persisted ANN index — the missing half
    * of [[streamIndexAppend]]'s lifecycle (q70 proved tombstones +
    * compaction batch-side; this wires the tombstone path into the
    * stream). Delete requests ARRIVE as micro-batches of vec_ids; each
    * trigger lands one persisted TOMBSTONE generation (a tiny id set —
    * zero index rewrite per delete, the only delete an append-only
    * 100 TB index can afford per-request), and serving anti-joins the
    * union of tombstone generations before scoring.
    *
    * Contracts (one row, deterministic — frozen models throughout):
    * multi-trigger delivery (tombstones landed across ≥ 2 generations);
    * serving over the STREAMED tombstones equals — same ids, same ADC
    * distances — serving after a one-shot batch delete of the same id
    * set (micro-batch slicing must not change what a query sees); and
    * the q70 structural negative control: the delete set includes the
    * raw top-1 id, so RAW serving (tombstones ignored) provably
    * surfaces a deleted id at any data generation — an anti-join
    * accidentally dropped from the serving path cannot pass.
    */
  def streamIndexDelete(spark: SparkSession, sfDir: String): DataFrame =
    streamIndexDeleteSliced(spark, sfDir, slices = 4)

  /** [[streamIndexDelete]] parameterized on the micro-batch slicing so
    * the spec can assert slicing invariance (the served result must be
    * identical under any delivery chunking).
    */
  def streamIndexDeleteSliced(
      spark: SparkSession, sfDir: String, slices: Int): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
    val idx = graft.RunPaths.scratch(
      s"graft_q75_index_${graft.RunPaths.keyFor(sfDir)}_$slices")
    // offline build: the shared persist-first frozen layout (every
    // stored artifact derives from the READ-BACK frozen floats)
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(
      spark, sfDir, merged, idx, "q75 frozen coarse-centroid table", withOccupancy = false)
    val gens = spark.read.parquet(s"$idx/codes")
      .select(col("cell_id"), col("vec_id"), col("codes"))
    def serve(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF,
      codes.select(col("cell_id"), col("vec_id"), col("codes")), "vec_id",
      nProbe = 4, k = 10)
    // delete set: every id ≡ 3 (mod 7) PLUS the raw top-1 (one
    // driver-scale row) — the q70 construction that makes the negative
    // control structural rather than a property of this table
    val rawTopId = serve(gens)
      .select(col("vec_id")).limit(1).collect().head.getLong(0)
    val deletes = merged.filter(pmod(col("vec_id"), lit(7)) === 3 ||
      col("vec_id") === rawTopId).select(col("vec_id"))
    // deliver the delete requests across hash-scrambled micro-batches
    val splitDir = graft.RunPaths.scratch(
      s"graft_q75_deletes_${graft.RunPaths.keyFor(sfDir)}_$slices")
    deletes.repartition(slices, xxhash64(col("vec_id")))
      .write.mode("overwrite").parquet(splitDir)
    val schema = spark.read.parquet(splitDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // one tombstone generation per trigger; overwrite per
        // generation keeps at-least-once retries idempotent
        batch.write.mode("overwrite").parquet(s"$idx/deletes/gen=$id")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val deadGens = spark.read.parquet(s"$idx/deletes")
    val dead = deadGens.select(col("vec_id"))
    val live = serve(gens.join(dead, Seq("vec_id"), "left_anti"))
    // one-shot comparison: a single batch anti-join of the same id set,
    // straight from the corpus — the streamed tombstone path (parquet
    // roundtrip + generation union) must be invisible to queries
    val oneShot = serve(gens.join(deletes, Seq("vec_id"), "left_anti"))
    val same = live.select(col("vec_id"), col("adc_dist").as("d_s"))
      .join(oneShot.select(col("vec_id"), col("adc_dist").as("d_b")),
        Seq("vec_id"), "full")
      .agg(((count(lit(1)) === 10) &&
        (count(when(col("d_s").isNull || col("d_b").isNull ||
          col("d_s") =!= col("d_b"), 1)) === 0)).as("same_as_batch_delete"))
    val rawHasDead = serve(gens).join(dead, Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) >= 1).as("deletes_visible_raw"))
    gens.agg(count(lit(1)).as("n_index"))
      .crossJoin(deadGens.agg(
        (countDistinct(col("gen")) >= 2).as("multi_trigger_ok")))
      .crossJoin(live.agg(count(lit(1)).as("n_results")))
      .crossJoin(rawHasDead)
      .crossJoin(same)
      .select(col("n_index"), col("multi_trigger_ok"), col("n_results"),
        col("deletes_visible_raw"), col("same_as_batch_delete"))
  }

  /** Streaming appends with a BOUNDED generation count — the missing
    * lifecycle piece of [[streamIndexAppend]]: q69/q75/q78/q84 land one
    * `codes/gen=N` directory per trigger and serve the union of ALL
    * generations, so a long-lived stream grows its file-listing and
    * union-plan cost per trigger — the classic small-files creep. q70
    * proved the fold (generations − tombstones → one cell-clustered
    * generation) batch-side; this wires it INTO the loop: whenever the
    * number of serving directories reaches `k`, the trigger folds them
    * into one compacted epoch, writes a durable manifest (epoch,
    * folded_through) LAST, and sweeps the superseded directories — so
    * the on-disk serving-directory count never exceeds `k` no matter
    * how long the stream runs. Tombstones compose exactly as in q70
    * (anti-join inside the fold); they are exercised there and omitted
    * here to keep this contract about the generation bound.
    *
    * Replay safety: the encode is overwrite-keyed by generation, the
    * fold by epoch, and the manifest (max-epoch-wins) lands strictly
    * after the fold's data — a replayed trigger re-creates its own
    * artifacts coherently. The sweep deletes directories the manifest
    * no longer references; a crash between manifest and sweep leaves
    * garbage, never missing rows (and each later fold trigger re-sweeps
    * everything superseded). At 100 TB the sweep would be grace-
    * windowed for in-flight readers — the ExcelScan condemned-queue
    * pattern; in-process the trigger is the only writer.
    *
    * Contracts (one row, deterministic): `slices` triggers; folds occur
    * (slices/… derived from `k`); the serving-directory count observed
    * at EVERY trigger stays ≤ `k` and ends ≤ `k`; final serving is
    * row-identical to a one-shot encode of base + all arrivals under
    * the same frozen models (compaction invisible to queries); covers
    * every embedding exactly once; a k=10 probe serves from the
    * compacted state.
    */
  def streamIndexCompact(
      spark: SparkSession, sfDir: String,
      k: Int = 3, slices: Int = 8): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    require(k >= 2, "k < 2 cannot hold an epoch plus one live generation")
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      s"graft_q87_index_${graft.RunPaths.keyFor(sfDir)}_${k}_$slices")
    Seq("codes", "compact", "manifest", "log")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q87 frozen coarse-centroid table", withOccupancy = false)

    // (epoch, folded_through), max-epoch-wins; epoch 0 is the base
    // build (codes/gen=0), nothing folded
    def manifest(): (Long, Long) = genDirs(spark, s"$idx/manifest", "epoch=")
      .maxOption.map(ep =>
        (ep, spark.read.parquet(s"$idx/manifest/epoch=$ep")
          .select(col("folded_through")).collect()(0).getLong(0)))
      .getOrElse((0L, 0L))
    def epochDir(ep: Long): String =
      if (ep == 0L) s"$idx/codes/gen=0" else s"$idx/compact/epoch=$ep"
    // the union serving reads: the current epoch + unfolded generations
    def servingParts(): Seq[String] = {
      val (ep, f) = manifest()
      epochDir(ep) +: genDirs(spark, s"$idx/codes", "gen=").filter(_ > f)
        .map(g => s"$idx/codes/gen=$g")
    }

    val splitDir = s"$idx/src/arrivals"
    // q78 exactness discipline: one file per micro-batch, `slices`
    // residue classes of the arriving ids (≡ 9 mod 10) — all non-empty
    // from `slices` rows up
    for (i <- 0 until slices)
      arriving.filter(pmod(col("vec_id"), lit(10L * slices)) === 9 + 10 * i)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(splitDir)
    val schema = spark.read.parquet(splitDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(splitDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val gen = id + 1
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
        val before = servingParts()
        val folded = before.length >= k
        if (folded) {
          val (ep, _) = manifest()
          // fold: epoch + live generations → one cell-clustered epoch
          // (at scale: partitionBy(cell_id) → probe partition pruning)
          before.map(p => codeCols(spark.read.parquet(p)))
            .reduce(_.unionByName(_))
            .repartition(col("cell_id"))
            .write.mode("overwrite").parquet(s"$idx/compact/epoch=${ep + 1}")
          // durable pointer LAST (persist-first), then sweep what the
          // new manifest no longer references
          publishEpoch(spark, s"$idx/codes", s"$idx/compact",
            s"$idx/manifest", ep, gen)
        }
        spark.range(1)
          .select(lit(gen).as("gen"),
            lit(before.length.toLong).as("serving_before"),
            lit(folded).as("folded"),
            lit(servingParts().length.toLong).as("serving_after"))
          .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val serving = servingParts()
      .map(p => codeCols(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    // one-shot comparison: base + ALL arrivals encoded in one batch
    // under the same frozen models — folding must be invisible
    val oneShot = codeCols(ProductQuantizer.ivfPqEncodeWith(
        base.unionByName(spark.read.parquet(splitDir)),
        "vec_id", "embedding", HouseM, coarseF, booksF))
    val same = sameCodeRows(serving, oneShot, "fold_invisible")
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF, serving, "vec_id",
      nProbe = 4, k = 10)
    val onDisk = servingParts().length.toLong
    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        count(when(col("folded"), 1)).as("n_folds"),
        (max(col("serving_before")) <= k && max(col("serving_after")) <= k &&
          lit(onDisk) <= k).as("gens_bounded"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("n_folds"), col("gens_bounded"),
        col("n_index"), col("ids_unique"), col("fold_invisible"),
        col("n_results"))
  }

  /** [[streamIndexCompact]] with the fold taken OFF the trigger — the
    * same scale argument q86 makes for retrains, applied to
    * maintenance: q87's fold reads and rewrites the whole epoch INSIDE
    * `foreachBatch`, so at 100 TB a fold trigger stalls ingestion for
    * an O(index) rewrite. Here the trigger only REQUESTS the fold
    * (durable record naming the SEALED input set: the current epoch +
    * the generations up to the requesting one — all immutable, so
    * unlike q86's retrain there are no gap generations to reconcile);
    * a concurrent thread (detached from the trigger's job group)
    * performs the rewrite and lands a done marker; the next trigger to
    * observe the marker ADOPTS it — one manifest write — and sweeps
    * the superseded directories. Appends continue throughout; serving
    * reads the old parts until the manifest flips, so the directory
    * bound is the honest async one: k + (generations landed during the
    * fold window), window length = fold duration / trigger period.
    *
    * Delivery (deterministic schedule, DERIVED from `k` — r12 shipped
    * the k=3 hand-trace; this generalization is spec-run at k=2 and
    * k=4 too): with `step = max(3, k-1)`, requests fire at
    * `r_i = (k-1) + (i-1)·step` for i = 1..3 (the first trigger whose
    * serving-part count reaches k with no request pending), each fold
    * GATED on gen `min(r_i + 2, slices)` completing — so the two gens
    * after each of the first two requests provably append while that
    * fold runs (the q86 overlap discipline). `slices = (k-1) + 2·step`
    * puts the THIRD request on the last trigger (its gate satisfied by
    * its own log row), so the maintenance pass leaves exactly one
    * epoch. Phases of `(k+1, step, step-2)` files with a driver-side
    * join between them make every ADOPTING trigger (the first of a
    * phase) run strictly after the fold it adopts — never a race
    * against fold duration. Contracts (one row, deterministic):
    * `slices` triggers; 3 requests; 2 in-stream adoptions + 1
    * maintenance adoption; exactly 4 gens (the two after each of the
    * first two requests) append with a fold in flight; final state is
    * ONE compacted epoch; serving row-identical to the one-shot
    * encode; every embedding exactly once; k=10 probe.
    *
    * The request/worker/done/adopt machinery is [[Handoff]] — shared
    * verbatim with q86's retrain and q90's gap fold.
    */
  def streamIndexCompactAsync(
      spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    require(k >= 2, "k < 2 cannot hold an epoch plus one live generation")
    val step = math.max(3, k - 1)
    val slices = (k - 1) + 2 * step
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      s"graft_q89_index_${graft.RunPaths.keyFor(sfDir)}_${k}_$slices")
    Seq("codes", "compact", "manifest", "freq", "log")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q89 frozen coarse-centroid table", withOccupancy = false)

    // ---- durable state ------------------------------------------------
    // manifest/epoch=E: (epoch, folded_through) — adopted folds, max wins
    // freq/req=N: (req_gen, epoch_at_req, folded_from) — a fold request
    //   naming its sealed inputs; compact/epoch=E+1 + _FOLD_DONE is the
    //   thread's output; adoption = the manifest write
    def manifest(): (Long, Long) = genDirs(spark, s"$idx/manifest", "epoch=")
      .maxOption.map(ep =>
        (ep, spark.read.parquet(s"$idx/manifest/epoch=$ep")
          .select(col("folded_through")).collect()(0).getLong(0)))
      .getOrElse((0L, 0L))
    def epochDir(ep: Long): String =
      if (ep == 0L) s"$idx/codes/gen=0" else s"$idx/compact/epoch=$ep"
    def servingParts(): Seq[String] = {
      val (ep, f) = manifest()
      epochDir(ep) +: genDirs(spark, s"$idx/codes", "gen=").filter(_ > f)
        .map(g => s"$idx/codes/gen=$g")
    }
    // the shared async-handoff machine: durable request → detached
    // pooled worker → done marker after artifacts → one-write adoption
    // → restart re-arm (see Handoff). The worker's gate is delivery
    // scaffolding (the q86 overlap discipline): hold the rewrite until
    // the trigger two generations past the request has fully
    // completed, so those appends provably land with the fold in
    // flight.
    val handoff = new Handoff(spark, s"$idx/freq",
      r => s"$idx/freq/req=$r/_FOLD_DONE",
      "graft-q89-fold")({ (reqGen, rec) =>
      val gateGen = math.min(reqGen + 2, slices.toLong)
      val gate = new java.io.File(s"$idx/log/gen=$gateGen/_SUCCESS")
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (!gate.exists()) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"q89 fold gate timed out waiting for gen $gateGen")
        Thread.sleep(100)
      }
      // the SEALED input set (read from the durable request record —
      // restart recovery re-derives the same fold): the epoch at
      // request time + the generations the request covered — all
      // immutable, so the rewrite needs no coordination with ongoing
      // appends
      val epochAtReq = rec.getAs[Long]("epoch_at_req")
      val foldedFrom = rec.getAs[Long]("folded_from")
      val inputs = epochDir(epochAtReq) +:
        genDirs(spark, s"$idx/codes", "gen=")
          .filter(g => g > foldedFrom && g <= reqGen)
          .map(g => s"$idx/codes/gen=$g")
      inputs.map(p => codeCols(spark.read.parquet(p)))
        .reduce(_.unionByName(_))
        .repartition(col("cell_id"))
        .write.mode("overwrite")
        .parquet(s"$idx/compact/epoch=${epochAtReq + 1}")
      ()
    })
    // adoption: one manifest write + sweep, idempotent, runnable from a
    // trigger or the driver-side maintenance pass (body shared with the
    // q89_adopt_trigger bench — the benched path IS this path)
    def adoptIfReady(): Boolean = {
      val (ep, f) = manifest()
      handoff.adoptNewestReady(r => r <= f) { r =>
        // ids to forget must be captured BEFORE the adoption body
        // sweeps their directories (the in-JVM entries would otherwise
        // leak: the sweep takes the done markers with it, after which
        // prune() can never classify the requests as done)
        val closed = handoff.requests().filter(_ <= r)
        adoptCompactEpoch(spark, idx, ep, r)
        closed.foreach(handoff.forget)
      }
    }

    val splitDir = s"$idx/src/arrivals"
    for (i <- 0 until slices)
      arriving.filter(pmod(col("vec_id"), lit(10L * slices)) === 9 + 10 * i)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(splitDir)
    // three phases (k+1, step, step-2 files — see the scaladoc
    // derivation) with a driver join between each: every ADOPTING
    // trigger (the first of a phase) runs strictly after the fold it
    // adopts has landed, so the adoption schedule is deterministic
    // rather than a race against fold duration
    val phaseSizes = Seq(k + 1, step, step - 2)
    val phaseDirs = phaseSizes.indices.map(i => s"$idx/src/phase_$i")
    val files = Option(new java.io.File(splitDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val phaseOffsets = phaseSizes.scanLeft(0)(_ + _)
    phaseDirs.zipWithIndex.foreach { case (d, pi) =>
      wipeDir(new java.io.File(d))
      new java.io.File(d).mkdirs()
      files.slice(phaseOffsets(pi), phaseOffsets(pi + 1)).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(d, f.getName))
      }
    }

    def drive(srcDir: String, genOffset: Int): Unit = {
      val schema = spark.read.parquet(splitDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val gen = genOffset + id + 1
          ProductQuantizer.ivfPqEncodeWith(
              batch, "vec_id", "embedding", HouseM, coarseF, booksF)
            .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
          val adopted = adoptIfReady()
          val parts = servingParts()
          val (ep, f) = manifest()
          // restart recovery (the q86 discipline): a pending fold whose
          // worker died with a previous driver re-arms from its durable
          // request record — a no-op on every healthy trigger (the
          // Handoff's launched set), a re-launch exactly when durable
          // state says an unadopted request has no done marker
          handoff.rearm(handoff.requests().filter(_ > f))
          val pending = handoff.requests().exists(r => r > f)
          val requested = parts.length >= k && !pending
          if (requested)
            handoff.submit(gen, spark.range(1)
              .select(lit(gen).as("req_gen"), lit(ep).as("epoch_at_req"),
                lit(f).as("folded_from")))
          // per-trigger wall time in the log row (written LAST, so the
          // measured span covers everything the trigger synchronously
          // paid — including an adoption's manifest write + sweep):
          // BENCH tracks the adopting trigger's cost from this
          spark.range(1)
            .select(lit(gen).as("gen"),
              lit(parts.length.toLong).as("parts"),
              lit(adopted).as("adopted"),
              lit(requested).as("requested"),
              lit(pending && !requested).as("fold_inflight"),
              lit((System.nanoTime() - t0) / 1000000L).as("ms"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    phaseDirs.zipWithIndex.foreach { case (d, pi) =>
      drive(d, phaseOffsets(pi))
      // the join makes each phase's pending fold land before the NEXT
      // phase's first (adopting) trigger — sequencing scaffolding only;
      // the stream itself never waited (the inflight flags prove it)
      handoff.joinAll()
    }
    // maintenance: adopt whatever completed after the last trigger
    adoptIfReady()

    val serving = servingParts()
      .map(p => codeCols(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    val oneShot = codeCols(ProductQuantizer.ivfPqEncodeWith(
        base.unionByName(spark.read.parquet(splitDir)),
        "vec_id", "embedding", HouseM, coarseF, booksF))
    val same = sameCodeRows(serving, oneShot, "fold_invisible")
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF, serving, "vec_id",
      nProbe = 4, k = 10)
    val finalParts = servingParts().length.toLong
    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        count(when(col("requested"), 1)).as("n_requests"),
        count(when(col("adopted"), 1)).as("n_adopted_in_stream"),
        count(when(col("fold_inflight"), 1)).as("n_gens_during_fold"),
        (lit(finalParts) === 1).as("final_single_epoch"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("n_requests"),
        col("n_adopted_in_stream"), col("n_gens_during_fold"),
        col("final_single_epoch"), col("n_index"), col("ids_unique"),
        col("fold_invisible"), col("n_results"))
  }

  /** The FULL streamed index lifecycle with BOTH creep families
    * bounded — q69 (streamed appends), q75 (streamed tombstones), and
    * q87 (in-loop compaction) composed: micro-batches carry adds AND
    * deletes; every trigger lands a code generation or a tombstone
    * generation, and whenever either family reaches `k` directories the
    * trigger folds it. The two folds differ deliberately:
    *   - CODE fold (q87's): epoch + live generations, PRE-APPLYING the
    *     full tombstone set (folded rows a query can never see are not
    *     carried), cell-clustered, manifest-last, superseded dirs swept;
    *   - TOMBSTONE fold: the union of the tombstone epoch + live
    *     tombstone dirs into one id-set epoch. A set union is
    *     order-independent and idempotent, so this fold is trivially
    *     replay-safe — and the tombstone epoch is NEVER absorbed into
    *     the code fold, because a tombstone outlives the rows it
    *     deleted: a LATE RE-ARRIVAL of a deleted id (at-least-once
    *     delivery, backfills) must stay dead, which only works if the
    *     id set survives every code compaction. q75 grew one tombstone
    *     dir per delete trigger forever; this caps both families at
    *     `k` directories.
    *
    * Delivery (phased drives, the q78 exactness discipline): 3 add
    * batches, then 3 delete batches (every base id ≡ 3 mod 7 — a pure
    * residue class, so counts stay closed-form; q70's raw-top-1
    * injection is structurally unavailable here, see the inline note),
    * then one more add batch, then — order pinned by its own drive —
    * a batch RE-DELIVERING half the deleted ids.
    * Contracts (one row, deterministic): 8 triggers; exactly 2 code
    * folds + 1 tombstone fold; both directory families ≤ k at every
    * trigger; serving row-identical to the one-shot batch shape
    * (encode(base ∪ arrivals ∪ redeliveries) anti-joined by the full
    * delete set — the redelivered deleted ids stay dead THROUGH the
    * folds); conservation n_live = n_encoded − n_dead; raw serving
    * (tombstones ignored) provably surfaces a deleted id; k=10 probe.
    */
  def streamIndexLifecycle(
      spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      s"graft_q88_index_${graft.RunPaths.keyFor(sfDir)}_$k")
    Seq("codes", "compact", "manifest", "tombs", "tepoch", "tmanifest", "log")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q88 frozen coarse-centroid table", withOccupancy = false)

    def maxManifest(dir: String): Long =
      genDirs(spark, dir, "epoch=").maxOption.getOrElse(0L)
    def foldedThrough(): Long = {
      val ep = maxManifest(s"$idx/manifest")
      if (ep == 0L) 0L
      else spark.read.parquet(s"$idx/manifest/epoch=$ep")
        .select(col("folded_through")).collect()(0).getLong(0)
    }
    def codeParts(): Seq[String] = {
      val ep = maxManifest(s"$idx/manifest")
      val epochDir =
        if (ep == 0L) s"$idx/codes/gen=0" else s"$idx/compact/epoch=$ep"
      epochDir +: genDirs(spark, s"$idx/codes", "gen=").filter(_ > foldedThrough())
        .map(g => s"$idx/codes/gen=$g")
    }
    def tombParts(): Seq[String] = {
      val tp = maxManifest(s"$idx/tmanifest")
      val tFolded =
        if (tp == 0L) 0L
        else spark.read.parquet(s"$idx/tmanifest/epoch=$tp")
          .select(col("folded_through")).collect()(0).getLong(0)
      (if (tp == 0L) Seq.empty else Seq(s"$idx/tepoch/epoch=$tp")) ++
        genDirs(spark, s"$idx/tombs", "gen=").filter(_ > tFolded)
          .map(g => s"$idx/tombs/gen=$g")
    }
    def tombIds(): Option[DataFrame] = {
      val ps = tombParts()
      if (ps.isEmpty) None
      else Some(ps.map(p => spark.read.parquet(p).select(col("vec_id")))
        .reduce(_.unionByName(_)).distinct())
    }

    def serve(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF, codes, "vec_id",
      nProbe = 4, k = 10)
    // q70/q75 injected the raw top-1 id into the delete set so RAW
    // serving provably surfaced a deleted id — that control is
    // structurally unavailable here: the tombstone-applying code fold
    // REMOVES dead rows from storage, which is its point. The
    // detection-power control is raw_carries_redelivered below (the
    // not-yet-folded generation must still physically hold the dead
    // re-delivered rows) + the one-shot row equality (a serving path
    // that forgot the anti-join would include those rows and fail).
    // Keeping the delete set a pure residue class also makes every
    // count closed-form for the oracle.
    val deletes = base.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"))

    def drive(srcDir: String, genOffset: Int, op: String): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val gen = genOffset + id + 1
          if (op == "add")
            ProductQuantizer.ivfPqEncodeWith(
                batch, "vec_id", "embedding", HouseM, coarseF, booksF)
              .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
          else
            batch.select(col("vec_id"))
              .write.mode("overwrite").parquet(s"$idx/tombs/gen=$gen")
          val (cBefore, tBefore) = (codeParts(), tombParts())
          val foldCodes = cBefore.length >= k
          if (foldCodes) {
            val ep = maxManifest(s"$idx/manifest")
            val live = cBefore.map(p => codeCols(spark.read.parquet(p)))
              .reduce(_.unionByName(_))
            // pre-apply the CURRENT tombstone set to the folded rows —
            // the tombstones themselves are NOT consumed (see scaladoc)
            tombIds().map(live.join(_, Seq("vec_id"), "left_anti"))
              .getOrElse(live)
              .repartition(col("cell_id"))
              .write.mode("overwrite").parquet(s"$idx/compact/epoch=${ep + 1}")
            publishEpoch(spark, s"$idx/codes", s"$idx/compact",
              s"$idx/manifest", ep, gen)
          }
          val foldTombs = tBefore.length >= k
          if (foldTombs) {
            val tp = maxManifest(s"$idx/tmanifest")
            tBefore.map(p => spark.read.parquet(p).select(col("vec_id")))
              .reduce(_.unionByName(_)).distinct()
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$idx/tepoch/epoch=${tp + 1}")
            publishEpoch(spark, s"$idx/tombs", s"$idx/tepoch",
              s"$idx/tmanifest", tp, gen)
          }
          spark.range(1)
            .select(lit(gen).as("gen"), lit(op).as("op"),
              lit(cBefore.length.toLong).as("codes_before"),
              lit(tBefore.length.toLong).as("tombs_before"),
              lit(foldCodes).as("folded_codes"),
              lit(foldTombs).as("folded_tombs"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1: three add batches (arriving ids ≡ 9 mod 10, residues
    // mod 40 ∈ {9,19,29} — each non-empty from 4 arrivals up)
    val addDir1 = s"$idx/src/adds1"
    for ((r, i) <- Seq(9, 19, 29).zipWithIndex)
      arriving.filter(pmod(col("vec_id"), lit(40)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(addDir1)
    drive(addDir1, 0, "add")
    // phase 2: three delete batches (deleted base ids split by mod 21
    // residues {3,10,17} of the ≡3-mod-7 class)
    val delDir = s"$idx/src/dels"
    for ((r, i) <- Seq(3, 10, 17).zipWithIndex)
      deletes.filter(pmod(col("vec_id"), lit(21)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(delDir)
    drive(delDir, 3, "del")
    // phase 3: the last arrival slice (gen 7), then — as its OWN drive,
    // so the generation order is pinned rather than left to the file
    // source's mtime sort — a RE-DELIVERY of half the deleted ids
    // (same vec_id, same embedding — the at-least-once / backfill
    // shape) as gen 8: it must land AFTER the t7 code fold so the k=3
    // contract (dead rows physically present in the unfolded
    // generation) is deterministic
    val addDir2 = s"$idx/src/adds2"
    arriving.filter(pmod(col("vec_id"), lit(40)) === 39)
      .coalesce(1).write.mode("overwrite").parquet(addDir2)
    drive(addDir2, 6, "add")
    val addDir3 = s"$idx/src/redeliver"
    base.filter(pmod(col("vec_id"), lit(14)) === 3)
      .coalesce(1).write.mode("overwrite").parquet(addDir3)
    drive(addDir3, 7, "add")

    // ---- final state ------------------------------------------------
    val codes = codeParts().map(p => codeCols(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    val dead = tombIds().get
    val living = codes.join(dead, Seq("vec_id"), "left_anti")
    // one-shot shape: everything ever delivered, encoded in one batch,
    // anti-joined by the full delete set
    val redelivered = base.filter(pmod(col("vec_id"), lit(14)) === 3)
    val oneShot = codeCols(ProductQuantizer.ivfPqEncodeWith(
        base.unionByName(arriving).unionByName(redelivered),
        "vec_id", "embedding", HouseM, coarseF, booksF))
      .join(deletes, Seq("vec_id"), "left_anti")
      .distinct() // redelivered survivors would be exact duplicates;
                  // none survive (redelivery ⊆ deletes), belt only
    val same = sameCodeRows(living, oneShot, "lifecycle_invisible")
    // physical-presence control: the stored codes must still CARRY the
    // dead re-delivered rows (they arrived after the last code fold, so
    // only a bug — e.g. tombstones applied to unfolded generations, or
    // the redelivery generation folded early — could remove them; the
    // anti-join is what hides them from queries, and forgetting IT
    // fails the one-shot equality instead)
    val rawCarries = codes.join(redelivered.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_raw_redeliv"))
      .crossJoin(redelivered.agg(count(lit(1)).as("n_redeliv")))
      .select((col("n_raw_redeliv") === col("n_redeliv"))
        .as("raw_carries_redelivered"))
    val served = serve(living)
    val onDiskOk =
      codeParts().length <= k && tombParts().length <= k
    // accounting note: the q70-style "n_live = n_encoded − n_dead"
    // conservation law does not hold here BY DESIGN — the t7 code fold
    // pre-applies the tombstone set, so dead base rows are no longer in
    // the stored codes to subtract. n_live is closed-form instead
    // (deletes are a pure residue class), and the row-level accounting
    // lives in lifecycle_invisible.
    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        count(when(col("folded_codes"), 1)).as("code_folds"),
        count(when(col("folded_tombs"), 1)).as("tomb_folds"),
        (max(col("codes_before")) <= k && max(col("tombs_before")) <= k &&
          lit(onDiskOk)).as("both_bounded"))
      .crossJoin(living.agg(count(lit(1)).as("n_live"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(rawCarries)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("code_folds"), col("tomb_folds"),
        col("both_bounded"), col("n_live"), col("ids_unique"),
        col("lifecycle_invisible"), col("raw_carries_redelivered"),
        col("n_results"))
  }

  /** [[streamIndexLifecycle]] with the tombstone HORIZON PURGE made
    * real — the one unbounded artifact in the lifecycle story capped
    * (r12 task 2). q88's tombstone id-set epoch grows with total
    * deletes ever issued, deliberately: only a surviving id set keeps a
    * re-delivered deleted id dead. The purge bounds it with an explicit
    * delivery-watermark contract: at tombstone-fold time, an id is
    * DROPPED from the epoch iff
    *
    *   (a) its delete landed at or before the `horizon` (the
    *       pipeline's delivery watermark — "re-deliveries older than
    *       this will not arrive"; a generation number here, a
    *       timestamp in production), AND
    *   (b) NO serving code part still physically carries its rows
    *       (verified by an anti-join against the serving parts' ids —
    *       O(epoch + k·batch), paid only inside the already-O(epoch)
    *       fold, never on a quiet trigger). A tombstone whose rows a
    *       code fold has not yet removed is load-bearing regardless of
    *       age; dropping it would resurrect stored rows.
    *
    * Both sides of the contract are exercised by the delivery: after
    * the purge, a re-delivery of a STILL-TOMBSTONED id (deleted past
    * the horizon) stays dead through serving, and a re-delivery of a
    * PURGED id resurfaces — the documented at-your-own-risk case that
    * is the price of the bound (if the watermark lies, old data
    * returns; that is a pipeline-policy trade, now visible in code and
    * spec instead of prose).
    *
    * Delivery (q78 exactness discipline): gens 1-2 add the first two
    * arrival slices — the code fold at gen 2 reaches k=3 and folds;
    * gens 3-4 delete D1/D2 (residues 3/10 mod 21 of the ≡3-mod-7 base
    * class); gens 5-6 add the last two arrival slices — the gen-6 code
    * fold PRE-APPLIES D1∪D2, physically removing their rows; gen 7
    * deletes D3 (residue 17 mod 21) — the tombstone fold fires with
    * `horizon = 4`: D1/D2 qualify on age AND on physical absence →
    * purged; D3 (gen 7 > horizon) survives; gen 8 re-delivers half of
    * D1 (ids ≡ 3 mod 42 — purged, RESURFACES) and half of D3 (ids ≡
    * 17 mod 42 — still tombstoned, stays dead).
    *
    * Contracts (one row, deterministic): 8 triggers; 2 code folds; 1
    * tombstone fold; both families ≤ k at every trigger; the purge
    * removed |D1∪D2| ids and the epoch holds exactly |D3|; the
    * re-delivered D3 half is absent from serving; the re-delivered D1
    * half is fully present; the raw codes physically carry BOTH halves
    * (gen 8 is unfolded — only the tombstone anti-join hides the D3
    * half); serving row-identical to the closed-form expected live set
    * under the same frozen models; ids unique; k=10 probe.
    */
  def streamIndexLifecyclePurge(
      spark: SparkSession, sfDir: String, k: Int = 3,
      horizon: Long = 4L): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      s"graft_q91_index_${graft.RunPaths.keyFor(sfDir)}_$k")
    Seq("codes", "compact", "manifest", "tombs", "tepoch", "tmanifest", "log")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q91 frozen coarse-centroid table", withOccupancy = false)

    def maxManifest(dir: String): Long =
      genDirs(spark, dir, "epoch=").maxOption.getOrElse(0L)
    def foldedThrough(): Long = {
      val ep = maxManifest(s"$idx/manifest")
      if (ep == 0L) 0L
      else spark.read.parquet(s"$idx/manifest/epoch=$ep")
        .select(col("folded_through")).collect()(0).getLong(0)
    }
    def codeParts(): Seq[String] = {
      val ep = maxManifest(s"$idx/manifest")
      val epochDir =
        if (ep == 0L) s"$idx/codes/gen=0" else s"$idx/compact/epoch=$ep"
      epochDir +: genDirs(spark, s"$idx/codes", "gen=").filter(_ > foldedThrough())
        .map(g => s"$idx/codes/gen=$g")
    }
    // tombstone parts carry (vec_id, del_gen) — the delete's arrival
    // generation is what the horizon is compared against
    def tombParts(): Seq[String] = {
      val tp = maxManifest(s"$idx/tmanifest")
      val tFolded =
        if (tp == 0L) 0L
        else spark.read.parquet(s"$idx/tmanifest/epoch=$tp")
          .select(col("folded_through")).collect()(0).getLong(0)
      (if (tp == 0L) Seq.empty else Seq(s"$idx/tepoch/epoch=$tp")) ++
        genDirs(spark, s"$idx/tombs", "gen=").filter(_ > tFolded)
          .map(g => s"$idx/tombs/gen=$g")
    }
    def tombIds(): Option[DataFrame] = {
      val ps = tombParts()
      if (ps.isEmpty) None
      else Some(ps.map(p => spark.read.parquet(p).select(col("vec_id")))
        .reduce(_.unionByName(_)).distinct())
    }
    def serve(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF, codes, "vec_id",
      nProbe = 4, k = 10)

    val deletes = base.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"))

    def drive(srcDir: String, genOffset: Int, op: String): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val gen = genOffset + id + 1
          if (op == "add")
            ProductQuantizer.ivfPqEncodeWith(
                batch, "vec_id", "embedding", HouseM, coarseF, booksF)
              .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
          else
            batch.select(col("vec_id"), lit(gen).as("del_gen"))
              .write.mode("overwrite").parquet(s"$idx/tombs/gen=$gen")
          val (cBefore, tBefore) = (codeParts(), tombParts())
          val foldCodes = cBefore.length >= k
          if (foldCodes) {
            val ep = maxManifest(s"$idx/manifest")
            val live = cBefore.map(p => codeCols(spark.read.parquet(p)))
              .reduce(_.unionByName(_))
            // pre-apply the CURRENT tombstone set (q88 semantics); the
            // tombstones are NOT consumed here — the PURGE below is
            // the only place an id ever leaves the epoch
            tombIds().map(live.join(_, Seq("vec_id"), "left_anti"))
              .getOrElse(live)
              .repartition(col("cell_id"))
              .write.mode("overwrite").parquet(s"$idx/compact/epoch=${ep + 1}")
            publishEpoch(spark, s"$idx/codes", s"$idx/compact",
              s"$idx/manifest", ep, gen)
          }
          val foldTombs = tBefore.length >= k
          var nPurged = 0L
          if (foldTombs) {
            val tp = maxManifest(s"$idx/tmanifest")
            // newest delete generation wins per id (a re-deleted id's
            // horizon clock restarts — it was re-delivered to deletion)
            val mergedT = tBefore.map(p => spark.read.parquet(p)
                .select(col("vec_id"), col("del_gen")))
              .reduce(_.unionByName(_))
              .groupBy(col("vec_id")).agg(max(col("del_gen")).as("del_gen"))
            // the HORIZON PURGE — both conditions, each load-bearing:
            // age alone must not drop a tombstone whose rows a code
            // fold has not yet removed (anti-join against the ids the
            // serving parts still carry: O(epoch + k·batch), inside
            // the already-O(epoch) fold)
            val carried = codeParts()
              .map(p => spark.read.parquet(p).select(col("vec_id")))
              .reduce(_.unionByName(_))
            val purged = mergedT.filter(col("del_gen") <= horizon)
              .join(carried, Seq("vec_id"), "left_anti")
            nPurged = purged.count()
            mergedT.join(purged.select(col("vec_id")),
                Seq("vec_id"), "left_anti")
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$idx/tepoch/epoch=${tp + 1}")
            publishEpoch(spark, s"$idx/tombs", s"$idx/tepoch",
              s"$idx/tmanifest", tp, gen,
              extras = Seq(lit(nPurged).as("n_purged")))
          }
          spark.range(1)
            .select(lit(gen).as("gen"), lit(op).as("op"),
              lit(cBefore.length.toLong).as("codes_before"),
              lit(tBefore.length.toLong).as("tombs_before"),
              lit(foldCodes).as("folded_codes"),
              lit(foldTombs).as("folded_tombs"),
              lit(nPurged).as("n_purged"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // gens 1-2: first two arrival slices (mod 40 residues {9, 19}) —
    // the gen-2 code fold reaches k and folds, BEFORE any delete
    val addDir1 = s"$idx/src/adds1"
    for ((r, i) <- Seq(9, 19).zipWithIndex)
      arriving.filter(pmod(col("vec_id"), lit(40)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(addDir1)
    drive(addDir1, 0, "add")
    // gens 3-4: deletes D1, D2
    val delDir1 = s"$idx/src/dels1"
    for ((r, i) <- Seq(3, 10).zipWithIndex)
      deletes.filter(pmod(col("vec_id"), lit(21)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(delDir1)
    drive(delDir1, 2, "del")
    // gens 5-6: last two arrival slices — the gen-6 code fold
    // PRE-APPLIES D1∪D2, physically removing their rows from storage
    val addDir2 = s"$idx/src/adds2"
    for ((r, i) <- Seq(29, 39).zipWithIndex)
      arriving.filter(pmod(col("vec_id"), lit(40)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(addDir2)
    drive(addDir2, 4, "add")
    // gen 7: delete D3 — the tombstone fold fires WITH the horizon
    val delDir2 = s"$idx/src/dels2"
    deletes.filter(pmod(col("vec_id"), lit(21)) === 17)
      .coalesce(1).write.mode("overwrite").parquet(delDir2)
    drive(delDir2, 6, "del")
    // gen 8: re-deliver half of PURGED D1 (resurfaces) and half of
    // STILL-TOMBSTONED D3 (stays dead), as one add batch
    val redelivD1 = base.filter(pmod(col("vec_id"), lit(42)) === 3)
    val redelivD3 = base.filter(pmod(col("vec_id"), lit(42)) === 17)
    val redelivDir = s"$idx/src/redeliver"
    redelivD1.unionByName(redelivD3)
      .coalesce(1).write.mode("overwrite").parquet(redelivDir)
    drive(redelivDir, 7, "add")

    // ---- final state ------------------------------------------------
    val codes = codeParts().map(p => codeCols(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    val dead = tombIds().get
    val living = codes.join(dead, Seq("vec_id"), "left_anti")
    // expected live set, closed form: (everything delivered minus the
    // full delete set) ∪ the re-delivered PURGED half — encoded under
    // the same frozen models
    val expected = codeCols(ProductQuantizer.ivfPqEncodeWith(
        base.unionByName(arriving), "vec_id", "embedding", HouseM,
        coarseF, booksF))
      .join(deletes, Seq("vec_id"), "left_anti")
      .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
        redelivD1, "vec_id", "embedding", HouseM, coarseF, booksF)))
    val same = sameCodeRows(living, expected, "lifecycle_invisible")
    val deadCheck = living.join(redelivD3.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) === 0).as("inside_horizon_redelivery_dead"))
    val aliveCheck = living.join(redelivD1.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_alive_d1"))
      .crossJoin(redelivD1.agg(count(lit(1)).as("n_d1")))
      .select((col("n_alive_d1") === col("n_d1") && col("n_d1") > 0)
        .as("purged_redelivery_resurfaces"))
    // physical control: gen 8 is unfolded, so the stored codes must
    // still CARRY both re-delivered halves — only the anti-join hides
    // the D3 half from queries
    // countDistinct, not count: D3's BASE copies are legitimately still
    // stored too (D3 was deleted after the last code fold), so a
    // re-delivered D3 id matches two physical rows
    val rawCarries = codes.join(
        redelivD1.unionByName(redelivD3).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg(countDistinct(col("vec_id")).as("n_raw"))
      .crossJoin(redelivD1.unionByName(redelivD3)
        .agg(count(lit(1)).as("n_redeliv")))
      .select((col("n_raw") === col("n_redeliv"))
        .as("raw_carries_redelivered"))
    val served = serve(living)
    val tombEpochRows = tombIds().get.count()
    val onDiskOk = codeParts().length <= k && tombParts().length <= k
    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        count(when(col("folded_codes"), 1)).as("code_folds"),
        count(when(col("folded_tombs"), 1)).as("tomb_folds"),
        (max(col("codes_before")) <= k && max(col("tombs_before")) <= k &&
          lit(onDiskOk)).as("both_bounded"),
        max(col("n_purged")).as("n_purged"))
      .crossJoin(spark.range(1)
        .select(lit(tombEpochRows).as("tomb_epoch_rows")))
      .crossJoin(living.agg(count(lit(1)).as("n_live"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(deadCheck)
      .crossJoin(aliveCheck)
      .crossJoin(rawCarries)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("code_folds"), col("tomb_folds"),
        col("both_bounded"), col("n_purged"), col("tomb_epoch_rows"),
        col("n_live"), col("ids_unique"), col("lifecycle_invisible"),
        col("inside_horizon_redelivery_dead"),
        col("purged_redelivery_resurfaces"),
        col("raw_carries_redelivered"), col("n_results"))
  }

  /** [[streamIndexLifecyclePurge]] under an ADVANCING horizon — the
    * production shape (r13 task 5): q91 takes one constant horizon and
    * fires one purge, but a live pipeline advances its delivery
    * watermark continuously, so every tombstone fold purges against a
    * FRESHER horizon. This delivery drives TWO tombstone folds with
    * `horizon = fold_gen − lag` and proves the properties a single
    * purge cannot:
    *
    *   - the epoch stays BOUNDED ACROSS purges: each fold's surviving
    *     set reflects only tombstones still inside the current horizon
    *     or still physically carried — never the cumulative history;
    *   - a RE-DELETED id's restarted horizon clock (newest delete
    *     wins) is load-bearing across folds: half of D1 is re-deleted
    *     just before fold #1, SURVIVES it (its new del_gen is inside
    *     the first horizon — under oldest-wins it would purge with the
    *     rest of D1), then QUALIFIES at fold #2 once the advanced
    *     horizon passes its restarted clock;
    *   - the carry condition stays load-bearing late: D3's delete
    *     lands after the last code fold, so at fold #2 it is inside
    *     the horizon ON AGE but still physically carried — purging it
    *     would resurrect stored rows.
    *
    * Delivery (q78 exactness discipline, k = 3, lag = 1): gen 1 add A1;
    * gens 2-3 delete D1/D2 (residues 3/10 mod 21 of the ≡3-mod-7 base
    * class); gen 4 add A2 → CODE FOLD 1 pre-applies D1∪D2 (their rows
    * leave storage); gen 5 re-deletes R = half of D1 (ids ≡ 3 mod 42,
    * del_gen 5) → TOMB FOLD 1, horizon 4: D1∖R and D2 purge (aged +
    * absent), R survives on its restarted clock; gens 6-7 add A3/A4 →
    * CODE FOLD 2; gen 8 deletes D3 (residue 17 mod 21, del_gen 8);
    * gen 9 re-deletes D2 (del_gen 9) → TOMB FOLD 2, horizon 8: R
    * purges (aged past the ADVANCED horizon + absent), D3 survives
    * (aged but CARRIED — its rows postdate code fold 2), re-deleted D2
    * survives on age; gen 10 re-delivers R (purged → RESURFACES) and
    * half of D3 (ids ≡ 17 mod 42 — tombstoned → stays dead).
    *
    * Contracts (one row, deterministic): 10 triggers; 2 code folds; 2
    * tombstone folds; both families ≤ k at every trigger; the horizons
    * strictly advance; n_purged_1 = |D1∖R| + |D2| and n_purged_2 = |R|
    * (per-fold, from the durable tombstone manifests); the final epoch
    * holds exactly |D3| + |D2| ids (bounded, not cumulative); serving
    * row-identical to the closed-form live set under the same frozen
    * models; the re-delivered D3 half stays dead, the re-delivered R
    * resurfaces; the raw codes physically carry both re-delivered
    * halves; ids unique; k=10 probe.
    */
  def streamIndexLifecycleMultiPurge(
      spark: SparkSession, sfDir: String, k: Int = 3,
      lag: Long = 1L): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      s"graft_q92_index_${graft.RunPaths.keyFor(sfDir)}_$k")
    Seq("codes", "compact", "manifest", "tombs", "tepoch", "tmanifest", "log")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q92 frozen coarse-centroid table", withOccupancy = false)

    def maxManifest(dir: String): Long =
      genDirs(spark, dir, "epoch=").maxOption.getOrElse(0L)
    def foldedThrough(): Long = {
      val ep = maxManifest(s"$idx/manifest")
      if (ep == 0L) 0L
      else spark.read.parquet(s"$idx/manifest/epoch=$ep")
        .select(col("folded_through")).collect()(0).getLong(0)
    }
    def codeParts(): Seq[String] = {
      val ep = maxManifest(s"$idx/manifest")
      val epochDir =
        if (ep == 0L) s"$idx/codes/gen=0" else s"$idx/compact/epoch=$ep"
      epochDir +: genDirs(spark, s"$idx/codes", "gen=").filter(_ > foldedThrough())
        .map(g => s"$idx/codes/gen=$g")
    }
    def tombParts(): Seq[String] = {
      val tp = maxManifest(s"$idx/tmanifest")
      val tFolded =
        if (tp == 0L) 0L
        else spark.read.parquet(s"$idx/tmanifest/epoch=$tp")
          .select(col("folded_through")).collect()(0).getLong(0)
      (if (tp == 0L) Seq.empty else Seq(s"$idx/tepoch/epoch=$tp")) ++
        genDirs(spark, s"$idx/tombs", "gen=").filter(_ > tFolded)
          .map(g => s"$idx/tombs/gen=$g")
    }
    def tombIds(): Option[DataFrame] = {
      val ps = tombParts()
      if (ps.isEmpty) None
      else Some(ps.map(p => spark.read.parquet(p).select(col("vec_id")))
        .reduce(_.unionByName(_)).distinct())
    }
    def serve(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseF, booksF, codes, "vec_id",
      nProbe = 4, k = 10)

    val deletes = base.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"))

    def drive(srcDir: String, genOffset: Int, op: String): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val gen = genOffset + id + 1
          if (op == "add")
            ProductQuantizer.ivfPqEncodeWith(
                batch, "vec_id", "embedding", HouseM, coarseF, booksF)
              .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
          else
            batch.select(col("vec_id"), lit(gen).as("del_gen"))
              .write.mode("overwrite").parquet(s"$idx/tombs/gen=$gen")
          val (cBefore, tBefore) = (codeParts(), tombParts())
          val foldCodes = cBefore.length >= k
          if (foldCodes) {
            val ep = maxManifest(s"$idx/manifest")
            val live = cBefore.map(p => codeCols(spark.read.parquet(p)))
              .reduce(_.unionByName(_))
            tombIds().map(live.join(_, Seq("vec_id"), "left_anti"))
              .getOrElse(live)
              .repartition(col("cell_id"))
              .write.mode("overwrite").parquet(s"$idx/compact/epoch=${ep + 1}")
            publishEpoch(spark, s"$idx/codes", s"$idx/compact",
              s"$idx/manifest", ep, gen)
          }
          val foldTombs = tBefore.length >= k
          var nPurged = 0L
          if (foldTombs) {
            // the ADVANCING horizon: the delivery watermark trails the
            // current generation by a fixed lag — each fold purges
            // against a fresher bound than the last (the production
            // shape; q91's constant horizon is the single-purge case)
            val horizon = gen - lag
            val tp = maxManifest(s"$idx/tmanifest")
            val mergedT = tBefore.map(p => spark.read.parquet(p)
                .select(col("vec_id"), col("del_gen")))
              .reduce(_.unionByName(_))
              .groupBy(col("vec_id")).agg(max(col("del_gen")).as("del_gen"))
            val carried = codeParts()
              .map(p => spark.read.parquet(p).select(col("vec_id")))
              .reduce(_.unionByName(_))
            val purged = mergedT.filter(col("del_gen") <= horizon)
              .join(carried, Seq("vec_id"), "left_anti")
            nPurged = purged.count()
            mergedT.join(purged.select(col("vec_id")),
                Seq("vec_id"), "left_anti")
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$idx/tepoch/epoch=${tp + 1}")
            publishEpoch(spark, s"$idx/tombs", s"$idx/tepoch",
              s"$idx/tmanifest", tp, gen,
              extras = Seq(lit(nPurged).as("n_purged"),
                lit(horizon).as("horizon")))
          }
          spark.range(1)
            .select(lit(gen).as("gen"), lit(op).as("op"),
              lit(cBefore.length.toLong).as("codes_before"),
              lit(tBefore.length.toLong).as("tombs_before"),
              lit(foldCodes).as("folded_codes"),
              lit(foldTombs).as("folded_tombs"),
              lit(nPurged).as("n_purged"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    val redelivR = base.filter(pmod(col("vec_id"), lit(42)) === 3)
    val redelivD3 = base.filter(pmod(col("vec_id"), lit(42)) === 17)
    // gen 1: add A1
    val addDir1 = s"$idx/src/adds1"
    arriving.filter(pmod(col("vec_id"), lit(40)) === 9)
      .coalesce(1).write.mode("overwrite").parquet(addDir1)
    drive(addDir1, 0, "add")
    // gens 2-3: deletes D1, D2
    val delDir1 = s"$idx/src/dels1"
    for ((r, i) <- Seq(3, 10).zipWithIndex)
      deletes.filter(pmod(col("vec_id"), lit(21)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(delDir1)
    drive(delDir1, 1, "del")
    // gen 4: add A2 — CODE FOLD 1 pre-applies D1∪D2
    val addDir2 = s"$idx/src/adds2"
    arriving.filter(pmod(col("vec_id"), lit(40)) === 19)
      .coalesce(1).write.mode("overwrite").parquet(addDir2)
    drive(addDir2, 3, "add")
    // gen 5: RE-delete half of D1 (the restarted-clock case) —
    // TOMB FOLD 1 at horizon 4
    val delDirR = s"$idx/src/dels_r"
    redelivR.select(col("vec_id"))
      .coalesce(1).write.mode("overwrite").parquet(delDirR)
    drive(delDirR, 4, "del")
    // gens 6-7: adds A3, A4 — CODE FOLD 2 at gen 7
    val addDir3 = s"$idx/src/adds3"
    for ((r, i) <- Seq(29, 39).zipWithIndex)
      arriving.filter(pmod(col("vec_id"), lit(40)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(addDir3)
    drive(addDir3, 5, "add")
    // gen 8: delete D3 (after the last code fold — stays CARRIED)
    val delDir2 = s"$idx/src/dels2"
    deletes.filter(pmod(col("vec_id"), lit(21)) === 17)
      .coalesce(1).write.mode("overwrite").parquet(delDir2)
    drive(delDir2, 7, "del")
    // gen 9: re-delete D2 (a delete of already-purged ids re-tombstones
    // them with a fresh clock) — TOMB FOLD 2 at horizon 8
    val delDir3 = s"$idx/src/dels3"
    deletes.filter(pmod(col("vec_id"), lit(21)) === 10)
      .coalesce(1).write.mode("overwrite").parquet(delDir3)
    drive(delDir3, 8, "del")
    // gen 10: re-deliver R (purged at fold 2 → resurfaces) and half of
    // D3 (tombstoned → stays dead)
    val redelivDir = s"$idx/src/redeliver"
    redelivR.unionByName(redelivD3)
      .coalesce(1).write.mode("overwrite").parquet(redelivDir)
    drive(redelivDir, 9, "add")

    // ---- final state ------------------------------------------------
    val codes = codeParts().map(p => codeCols(spark.read.parquet(p)))
      .reduce(_.unionByName(_))
    val dead = tombIds().get
    val living = codes.join(dead, Seq("vec_id"), "left_anti")
    // expected live set, closed form: (everything delivered minus the
    // full delete set) ∪ the re-delivered PURGED half R
    val expected = codeCols(ProductQuantizer.ivfPqEncodeWith(
        base.unionByName(arriving), "vec_id", "embedding", HouseM,
        coarseF, booksF))
      .join(deletes, Seq("vec_id"), "left_anti")
      .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
        redelivR, "vec_id", "embedding", HouseM, coarseF, booksF)))
    val same = sameCodeRows(living, expected, "lifecycle_invisible")
    val deadCheck = living.join(redelivD3.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg((count(lit(1)) === 0).as("inside_horizon_redelivery_dead"))
    val aliveCheck = living.join(redelivR.select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_alive_r"))
      .crossJoin(redelivR.agg(count(lit(1)).as("n_r")))
      .select((col("n_alive_r") === col("n_r") && col("n_r") > 0)
        .as("purged_redelivery_resurfaces"))
    // physical control: gen 10 is unfolded — countDistinct because the
    // D3 half legitimately matches its still-stored base copies too
    val rawCarries = codes.join(
        redelivR.unionByName(redelivD3).select(col("vec_id")),
        Seq("vec_id"), "left_semi")
      .agg(countDistinct(col("vec_id")).as("n_raw"))
      .crossJoin(redelivR.unionByName(redelivD3)
        .agg(count(lit(1)).as("n_redeliv")))
      .select((col("n_raw") === col("n_redeliv"))
        .as("raw_carries_redelivered"))
    val served = serve(living)
    val tombEpochRows = tombIds().get.count()
    val onDiskOk = codeParts().length <= k && tombParts().length <= k
    // per-fold purge accounting and the advancing horizon, from the
    // durable tombstone manifests (kept forever — 1-row records)
    val tm = genDirs(spark, s"$idx/tmanifest", "epoch=").map(ep =>
      spark.read.parquet(s"$idx/tmanifest/epoch=$ep")
        .select(col("n_purged"), col("horizon")).collect()(0))
    require(tm.length == 2,
      s"q92 delivery must land exactly 2 tombstone folds, found " +
        s"${tm.length} manifests — schedule or fold-threshold drift")
    val (purged1, h1) = (tm(0).getLong(0), tm(0).getLong(1))
    val (purged2, h2) = (tm(1).getLong(0), tm(1).getLong(1))
    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        count(when(col("folded_codes"), 1)).as("code_folds"),
        count(when(col("folded_tombs"), 1)).as("tomb_folds"),
        (max(col("codes_before")) <= k && max(col("tombs_before")) <= k &&
          lit(onDiskOk)).as("both_bounded"))
      .crossJoin(spark.range(1)
        .select(lit(h2 > h1).as("horizons_advanced"),
          lit(purged1).as("n_purged_1"), lit(purged2).as("n_purged_2"),
          lit(tombEpochRows).as("tomb_epoch_rows")))
      .crossJoin(living.agg(count(lit(1)).as("n_live"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(deadCheck)
      .crossJoin(aliveCheck)
      .crossJoin(rawCarries)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("code_folds"), col("tomb_folds"),
        col("both_bounded"), col("horizons_advanced"),
        col("n_purged_1"), col("n_purged_2"), col("tomb_epoch_rows"),
        col("n_live"), col("ids_unique"), col("lifecycle_invisible"),
        col("inside_horizon_redelivery_dead"),
        col("purged_redelivery_resurfaces"),
        col("raw_carries_redelivered"), col("n_results"))
  }

  /** The retrain trigger RIDING the streaming append path — q69 and
    * q76 composed into the production shape: every arriving micro-batch
    * lands one index generation AND one persisted drift row. The drift
    * statistic is cell-occupancy PSI of the generation just written
    * against the base occupancy persisted at build time — both sides
    * read from STORED CODES (`IndexDrift.occupancyOfCodes`): the index
    * is its own assignment record, so per-trigger monitoring costs one
    * K-row count over the new generation, no vector re-assigned, no
    * state store. Delivery is two-phase so the contract is
    * deterministic: the in-distribution arrivals stream first (3
    * round-robin micro-batches), then a deliberately drifted batch
    * (the shared `IndexDrift.shifted` transform); each drift row is
    * stamped with its delivery phase.
    *
    * Contracts (one row, deterministic booleans — PSI floats are
    * model-dependent and never surfaced): 4 triggers, ≥ 2 clean
    * generations (multi-trigger delivery), NO clean generation demands
    * a retrain (rehearsed clean per-trigger PSI ≤ ~0.25 vs the 0.75
    * threshold), and the one drifted generation DOES (rehearsed ~2.6).
    */
  def streamIndexDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{IndexDrift, ProductQuantizer}
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val merged = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val arriving = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
    val idx = graft.RunPaths.scratch(
      "graft_q78_index_" + graft.RunPaths.keyFor(sfDir))
    // offline build: the shared persist-first frozen layout (models +
    // base codes + the base occupancy the per-append trigger reads)
    val (coarseF, booksF) = LlmOps.buildFrozenIndex(spark, sfDir, base, idx,
      "q78 frozen coarse-centroid table")

    def drive(srcDir: String, genOffset: Int, drifted: Boolean): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val gen = genOffset + id + 1
          ProductQuantizer.ivfPqEncodeWith(
              batch, "vec_id", "embedding", HouseM, coarseF, booksF)
            .write.mode("overwrite").parquet(s"$idx/codes/gen=$gen")
          // the trigger's whole input is stored state: base occupancy
          // from build time, generation occupancy from the codes just
          // written — one K-row aggregate per trigger. The phase flag
          // is the delivery phase itself (gens 1..3 clean, 4 drifted),
          // NOT a vec_id threshold: a data-derived marker would
          // misclassify clean batches on any corpus whose real ids
          // reach the marker range (e.g. a 10× corpus blowup that adds
          // rep·10^8 to vec_id).
          IndexDrift.occupancyPsiFromOccupancies(
              spark.read.parquet(s"$idx/base_occ"),
              IndexDrift.occupancyOfCodes(
                spark.read.parquet(s"$idx/codes/gen=$gen")),
              coarseF)
            .select(lit(gen).as("gen"), col("n_batch"), col("psi"),
              (col("psi") > 0.75).as("retrain_needed"),
              lit(drifted).as("drifted_batch"))
            .write.mode("overwrite").parquet(s"$idx/drift/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // phase 1: in-distribution arrivals, 3 micro-batches. The trigger
    // count is a CONTRACT (4 = 3 clean + 1 drifted), so the file count
    // must be exact BY CONSTRUCTION: three coalesce(1) writes appended
    // into one directory, one part file each. Neither round-robin
    // repartition(3) (per-input-partition random start offsets can
    // leave a target partition empty when no input partition holds 3+
    // rows) nor a hash split (empty hash bucket at tiny corpora)
    // guarantees 3 non-empty partitions — either shape yields fewer
    // part files → fewer triggers → a loud-but-spurious verify
    // failure. Slicing key: arriving ids are ≡ 9 (mod 10), so pmod 30
    // cycles residues {9,19,29} every 3 arrivals — all three slices
    // non-empty from 3 rows up, and a corpus id blowup
    // (+rep·10^8, with 10^8 ≡ 10 mod 30) only PERMUTES the residue
    // set, never collapses it. Which rows land in which batch is
    // irrelevant to every contract (union of generations, per-batch
    // PSI quietness).
    val split1 = graft.RunPaths.scratch(
      "graft_q78_arrivals_" + graft.RunPaths.keyFor(sfDir))
    for (i <- 0 until 3)
      arriving.filter(pmod(col("vec_id"), lit(30)) === lit(9 + 10 * i))
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(split1)
    drive(split1, 0, drifted = false)
    // phase 2: the drifted batch (shifted embeddings; ids offset only
    // so clean and drifted copies of a vector stay distinct in the
    // stored generations — by the OBSERVED id span, not a constant a
    // larger corpus would outgrow)
    val split2 = graft.RunPaths.scratch(
      "graft_q78_drifted_" + graft.RunPaths.keyFor(sfDir))
    val idSpan = merged.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    IndexDrift.shifted(arriving, "vec_id", "embedding")
      .select((col("vec_id") + lit(idSpan)).as("vec_id"), col("embedding"))
      .repartition(1)
      .write.mode("overwrite").parquet(split2)
    drive(split2, 3, drifted = true)

    val drift = spark.read.parquet(s"$idx/drift")
    drift.agg(
      count(lit(1)).as("n_triggers"),
      (countDistinct(when(!col("drifted_batch"), col("gen"))) >= 2)
        .as("multi_trigger_ok"),
      (count(when(!col("drifted_batch") && col("retrain_needed"), 1)) === 0)
        .as("clean_quiet"),
      count(when(col("drifted_batch"), 1)).as("n_drifted"),
      (count(when(col("drifted_batch") && !col("retrain_needed"), 1)) === 0)
        .as("drifted_fires"))
  }

  /** The CLOSED drift loop riding the stream — q69 (streamed append),
    * q78 (stored-state PSI detect), and q81 (the retrain ACTION)
    * composed into one operational pipeline: every arriving micro-batch
    * is appended through `LlmOps.annMaybeRetrain`, so a quiet batch
    * costs O(batch) (frozen-model encode + one K-row PSI count) and a
    * drifted batch retrains INLINE — the serving pointer switches to
    * the new model generation mid-stream and later batches append
    * against it. This is the piece q78 and q81 each only half-show:
    * detection driving the action with no operator in the loop.
    *
    * Delivery phases (explicit one-file-per-micro-batch writes, the
    * q78 exactness discipline): two in-distribution batches (quiet
    * appends), one drifted batch (`IndexDrift.shifted` — fires,
    * retrains on the full corpus-so-far + batch), then one
    * post-retrain batch drawn from the MERGED distribution (a fresh-id
    * copy of the whole corpus) which must append QUIETLY on the
    * retrained index — the loop iterates in-stream, which is exactly
    * what the retrained directory's self-hosted layout (coarse, books,
    * codes/gen=0, base_occ) exists for. Corpus state is read back from
    * storage at every trigger (base + persisted arrivals): the stream
    * owns no in-memory corpus, matching the index-is-its-own-record
    * principle.
    *
    * Contracts (one row, deterministic): 4 triggers; both clean
    * batches quiet; the drifted batch fires exactly once; the
    * post-retrain batch quiet; final serving covers base + every
    * arrival exactly once — `2 × n(embeddings≠0)`, because the post
    * batch is a fresh-id copy of the merged corpus (which also makes
    * its in-distribution property exact: same occupancy as the
    * retrained base_occ, PSI ≈ 0); and a held-out query (vec_id 0)
    * serves k=10 from the final state.
    *
    * `postShifted` (spec-only negative control): deliver the post
    * batch drifted a SECOND time instead — it must FIRE a second
    * retrain, proving the trigger stays armed after the pointer
    * switch (a loop that can only fire once is a one-shot, not a
    * loop). Serving still covers every row exactly once either way.
    */
  def streamIndexRetrain(
      spark: SparkSession, sfDir: String,
      postShifted: Boolean = false): DataFrame = {
    import graft.operators.{IndexDrift, ProductQuantizer}
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    // fresh-id offsets derive from the OBSERVED id span (one 1-row
    // aggregate), never a hard constant: a fixed +1M/+2M collides with
    // genuine ids once the corpus outgrows it, failing the ids_unique
    // contract spuriously at scale — drift copies live in
    // [span, 2·span), post copies in [2·span, 3·span), disjoint from
    // the originals by construction
    val idSpan = all.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val driftSrc = IndexDrift
      .shifted(all.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding")
      .select((col("vec_id") + lit(idSpan)).as("vec_id"), col("embedding"))
    val idx = graft.RunPaths.scratch(
      "graft_q84_index_" + graft.RunPaths.keyFor(sfDir))
    // offline build over base: the shared persist-first frozen layout
    val mDir = s"$idx/model"
    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q84 frozen coarse-centroid table")

    // NO driver-held serving state: the model pointer and the set of
    // quiet-append generations are pure functions of the DURABLE
    // per-generation decision log (last fired generation wins; quiet
    // generations since it carry appends). foreachBatch is
    // at-least-once, and any in-memory pointer makes the fired path
    // non-replayable: a drifted batch that fails AFTER switching the
    // pointer would re-evaluate against the retrained model on replay,
    // go quiet, and append its rows on top of the retrain that already
    // absorbed them. Deriving the pointer from log entries STRICTLY
    // BEFORE the current generation makes a replay bit-for-bit
    // deterministic: it re-reads the same pre-batch state, re-makes the
    // same decision, and overwrites the same artifacts.
    def decisions(upTo: Long): Seq[(Long, Boolean)] = {
      genDirs(spark, s"$idx/log", "gen=")
        .filter(_ < upTo)
        .map(g => (g, spark.read.parquet(s"$idx/log/gen=$g")
          .select(col("retrain_fired")).collect()(0).getBoolean(0)))
    }
    def modelBefore(gen: Long): String =
      decisions(gen).filter(_._2).lastOption
        .map { case (g, _) => s"$idx/branch/gen=$g/retrain" }
        .getOrElse(mDir)
    def appendedAfter(all: Seq[(Long, Boolean)]): Seq[String] = {
      val lastFired = all.filter(_._2).map(_._1).maxOption.getOrElse(0L)
      all.collect { case (g, false) if g > lastFired =>
        s"$idx/branch/gen=$g/codes/gen=1" }
    }

    def drive(srcDir: String, phase: String, genOffset: Int): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // gen derives from the STABLE batch id (+ per-drive offset),
          // never a counter: a retried batch must overwrite its OWN
          // generation, not mint a new one
          val gen = genOffset + id + 1
          // persist-then-reread: the retrain branch trains float models
          // on this data, and storage is the one bit-stable handoff
          batch.select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$idx/arrived/gen=$gen")
          val corpus = (1L until gen)
            .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
            .foldLeft(base)(_.unionByName(_))
          val branch = s"$idx/branch/gen=$gen"
          val (_, _, _, fired) = LlmOps.annMaybeRetrain(
            spark, sfDir, modelBefore(gen), branch, corpus,
            spark.read.parquet(s"$idx/arrived/gen=$gen"))
          spark.range(1)
            .select(lit(gen).as("gen"), lit(fired).as("retrain_fired"),
              lit(phase).as("phase"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // wipe the decision log from any PRIOR run of this query in the
    // same process (scratch paths are per-sfDir): the pointer is
    // log-derived, and a stale fired entry would hand generation 1 the
    // previous run's retrained model
    wipeDir(new java.io.File(s"$idx/log"))

    // phase 1: two clean micro-batches — explicit one-file writes (the
    // q78 discipline: the trigger count is a contract, so the file
    // count is exact by construction; clean ids are ≡ 8 mod 10, so
    // pmod 20 splits them {8} / {18}, both non-empty from 2 rows up)
    val cleanDir = s"$idx/src/clean"
    for ((r, i) <- Seq(8, 18).zipWithIndex)
      clean.filter(pmod(col("vec_id"), lit(20)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(cleanDir)
    drive(cleanDir, "clean", genOffset = 0)
    // phase 2: the drifted batch — fires and retrains inline
    val driftDir = s"$idx/src/drift"
    driftSrc.coalesce(1).write.mode("overwrite").parquet(driftDir)
    drive(driftDir, "drift", genOffset = 2)
    // phase 3: a fresh-id copy of the merged corpus — exactly the
    // retrained model's training distribution, must append quietly
    // (postShifted: shifted AGAIN — out-of-distribution for the
    // retrained model too, must fire a second retrain)
    val postDir = s"$idx/src/post"
    val mergedCopy = base.unionByName(clean).unionByName(driftSrc)
    (if (postShifted)
       IndexDrift.shifted(mergedCopy, "vec_id", "embedding")
     else mergedCopy)
      .select((col("vec_id") + lit(2 * idSpan)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(postDir)
    drive(postDir, "post", genOffset = 3)

    // final serving state, derived from the same durable log the
    // triggers wrote: the current pointer's base generation plus quiet
    // appends since the last retrain
    val finalDecisions = decisions(Long.MaxValue)
    val modelIdx = modelBefore(Long.MaxValue)
    val serving = appendedAfter(finalDecisions)
      .map(p => spark.read.parquet(p)
        .select(col("cell_id"), col("vec_id"), col("codes")))
      .foldLeft(spark.read.parquet(s"$modelIdx/codes/gen=0")
        .select(col("cell_id"), col("vec_id"), col("codes")))(_.unionByName(_))
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM,
      LlmOps.modelScaleStamp(spark.read.parquet(s"$modelIdx/coarse"),
        "q84 serving coarse-centroid table"),
      spark.read.parquet(s"$modelIdx/books"),
      serving, "vec_id", nProbe = 4, k = 10)

    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        (count(when(col("phase") === "clean" && col("retrain_fired"), 1))
          === 0).as("clean_quiet"),
        (count(when(col("phase") === "drift" && !col("retrain_fired"), 1))
          === 0 && count(when(col("retrain_fired"), 1)) === 1)
          .as("drift_fires_once"),
        (count(when(col("phase") === "post" && col("retrain_fired"), 1))
          === 0).as("post_quiet"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id")))
          .as("ids_unique")))
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("clean_quiet"), col("drift_fires_once"),
        col("post_quiet"), col("n_index"), col("ids_unique"),
        col("n_results"))
  }

  /** The drift loop with an ASYNC retrain handoff — [[streamIndexRetrain]]'s
    * one scale gap closed. q84 retrains INLINE in `foreachBatch`, so at
    * 100 TB a fired trigger stalls ingestion for the retrain's whole
    * duration (hours): micro-batches queue, watermarks stall, checkpoint
    * progress stops. Here the fired branch only REQUESTS the retrain:
    *   - the firing batch (and every batch after it) still appends
    *     frozen-encoded against the CURRENT model — O(batch), the
    *     stream never blocks on training;
    *   - the retrain runs on a CONCURRENT thread over a corpus SNAPSHOT
    *     (base + the arrived generations up to the firing one, all
    *     persisted parquet — the persist-first layout IS the snapshot,
    *     nothing is copied), persists the new frozen layout
    *     (coarse/books/codes/base_occ, its own self-hosted
    *     precondition), and lands a durable done marker LAST;
    *   - the next trigger to observe a completed-but-unswitched retrain
    *     performs the SWITCH: the gap generations appended while the
    *     retrain ran are folded in (their persisted RAW batches
    *     re-encoded under the new model — deterministic, the raws were
    *     stored before any encode), then one durable switch record
    *     flips the serving pointer. From that trigger on, appends
    *     encode against the new model and the PSI gate reads its
    *     base_occ.
    *
    * Replay safety (foreachBatch is at-least-once): every per-trigger
    * artifact is OVERWRITE-keyed by its generation (arrived / append /
    * log) and every retrain artifact by its requesting generation
    * (retrain/req=G, switch/req=G), so a replayed trigger rewrites its
    * own generation coherently — and structured streaming only replays
    * a batch no LATER batch has consumed. Serving state and the model
    * pointer are pure functions of the durable log + switch records;
    * no driver-held pointer exists to diverge on replay. A pending
    * request whose thread died with the driver is re-launchable from
    * the same durable state (request record without done marker) — the
    * restart-recovery shape; this harness runs in-process so it joins
    * the live thread instead.
    *
    * Delivery harness (the q78 exactness discipline — one file per
    * micro-batch, deterministic contracts): gen 1 clean (quiet), gen 2
    * drifted (fires, requests), gens 3-4 clean ("gap" phase — the
    * retrain thread is GATED on gen 4's trigger COMPLETING, so both
    * provably log in-flight while the retrain is open: the stream
    * demonstrably does not stall), gen 5 post (a fresh-id copy of the merged corpus —
    * switches to the retrained model at trigger start, folds gens 3-4,
    * appends quietly). The gate is delivery scaffolding, not a
    * production semantic: it guarantees the overlap the contract pins,
    * exactly as q78's phased delivery guarantees its trigger count.
    *
    * Contracts (one row, deterministic): 5 triggers; clean+gap quiet;
    * the drifted gen fires exactly once; both gap gens carry
    * inflight=true; the post gen runs ON the retrained pointer and is
    * quiet; final serving covers base + every arrival exactly once
    * (2 × n(embeddings≠0)), ids unique; the streamed serving state
    * (retrained codes ∪ folded gaps ∪ post-switch appends) is
    * ROW-IDENTICAL to a one-shot batch re-encode of the same gap+post
    * raws under the same persisted model — the fold plumbing is
    * invisible to queries, which is precisely what the inline path
    * guarantees trivially; q86 proves the async handoff keeps it.
    *
    * `postShifted` (spec-only negative control): deliver the post batch
    * drifted AGAIN — it must fire a SECOND request against the
    * retrained model (the loop stays armed after the handoff), whose
    * retrain completes after the stream ends and is switched by the
    * driver-side maintenance pass. Serving still covers every row
    * exactly once.
    *
    * STATUS: q86 is a declared oracle query, and its contract is the
    * INLINE handoff: the post trigger itself adopts the retrained model
    * and folds the whole gap synchronously (`switchIfReady`) — exactly
    * the work [[FoldMachine]] (q90) moves off the trigger. Routing q86
    * through FoldMachine would change the contract it declares, and no
    * declared query leaves the oracle set, so the inline path stays.
    * New serving-path work goes in [[FoldMachine]]; this path must not
    * grow. The pointer derivation itself is shared with the canonical
    * path ([[SwitchLog]] — listing-only membership, one record read,
    * `ptr_reads_bounded` in the contract row).
    */
  def streamIndexRetrainAsync(
      spark: SparkSession, sfDir: String,
      postShifted: Boolean = false,
      dieAfterRequest: Boolean = false): DataFrame = {
    // dieAfterRequest (spec-only): simulate the driver dying in the
    // exact window restart recovery exists for — AFTER the durable
    // request record lands, BEFORE the retrain thread starts. The
    // firing trigger then launches nothing; the NEXT trigger's re-arm
    // must observe the pending record and launch from durable state,
    // and every contract must come out identical to the healthy run.
    import graft.operators.{IndexDrift, ProductQuantizer}
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    // fresh-id offsets from the OBSERVED id span (the q84 discipline:
    // a hard constant collides once the corpus outgrows it)
    val idSpan = all.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val driftSrc = IndexDrift
      .shifted(all.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding")
      .select((col("vec_id") + lit(idSpan)).as("vec_id"), col("embedding"))
    val idx = graft.RunPaths.scratch(
      s"graft_q86_index_${graft.RunPaths.keyFor(sfDir)}" +
        (if (postShifted) "_ps" else ""))
    val mDir = s"$idx/model"

    // ---- durable-state accessors (decisions derive ONLY from these) --
    // adopted-set membership needs only the request IDS (a directory
    // listing); only the serving pointer reads a record — ONE 1-row
    // read for the MAX switch, O(1) in switch history (the r13 lead
    // finding: reading every historical record made per-trigger driver
    // cost grow with total retrains over the stream's lifetime)
    def adoptedSwitches(): Seq[Long] = SwitchLog.adopted(spark, s"$idx/switch")
    // serving pointer: the LAST switched retrain, else the base model
    def pointer(): (String, Long) =
      SwitchLog.pointer(spark, s"$idx/switch")
        .map { case (g, f) => (s"$idx/retrain/req=$g", f) }
        .getOrElse((mDir, 0L))
    def frozenModels(dir: String): (DataFrame, DataFrame) =
      (LlmOps.modelScaleStamp(spark.read.parquet(s"$dir/coarse"),
        "q86 frozen coarse-centroid table"),
        spark.read.parquet(s"$dir/books"))

    // ---- the async retrain ------------------------------------------
    // the shared async-handoff machine (see Handoff): durable request →
    // job-group-detached pooled worker → done marker strictly after the
    // retrained layout lands → restart re-arm. The worker's gate is
    // delivery scaffolding: hold training until gen 4's trigger has
    // fully COMPLETED (its log row is the trigger's LAST write), so
    // both gap triggers provably compute their inflight flag while the
    // worker is still open — production launches immediately (see doc).
    val handoff = new Handoff(spark, s"$idx/req",
      g => s"$idx/retrain/req=$g/_RETRAIN_DONE",
      "graft-q86-retrain")({ (reqGen, _) =>
      val gate = new java.io.File(s"$idx/log/gen=4/_SUCCESS")
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (!gate.exists()) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            "q86 retrain gate timed out waiting for gen 4")
        Thread.sleep(100)
      }
      // snapshot = base + arrived raws up to the firing generation,
      // all READ BACK from storage (persist-then-reread: the one
      // bit-stable handoff for float model training)
      val snapshot = (1L to reqGen)
        .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
        .foldLeft(base)(_.unionByName(_))
        .localCheckpoint(true)
      LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
        s"$idx/retrain/req=$reqGen", "q86 retrained coarse-centroid table")
      ()
    })

    // ---- the switch: fold gap generations, flip the pointer ----------
    // idempotent (everything overwrite-keyed by req/gen), runnable from
    // a trigger (atGen = the observing generation) or from the
    // driver-side maintenance pass after the stream ends
    def switchIfReady(atGen: Long): Unit = {
      handoff.adoptNewestReady(adoptedSwitches().toSet) { g =>
        val rdir = s"$idx/retrain/req=$g"
        val (coarseR, booksR) = frozenModels(rdir)
        // fold: re-encode the RAW gap batches (appended under the old
        // model while the retrain ran) with the new frozen models
        genDirs(spark, s"$idx/arrived", "gen=")
          .filter(gg => gg > g && gg < atGen)
          .foreach { gg =>
            ProductQuantizer.ivfPqEncodeWith(
                spark.read.parquet(s"$idx/arrived/gen=$gg"),
                "vec_id", "embedding", HouseM, coarseR, booksR)
              .write.mode("overwrite").parquet(s"$rdir/fold/gen=$gg")
          }
        // the durable pointer flip, LAST (persist-first ordering)
        SwitchLog.write(spark, s"$idx/switch", g, atGen - 1, atGen)
      }
    }

    def drive(srcDir: String, phase: String, genOffset: Int): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val reads0 = SwitchLog.recordReads(s"$idx/switch")
          val gen = genOffset + id + 1
          // 1. persist the raw batch (the fold and any later retrain
          //    read THIS, never the in-memory batch)
          batch.select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$idx/arrived/gen=$gen")
          // 2. adopt a completed retrain before touching models: folds
          //    strictly-earlier gens, so this batch encodes fresh
          switchIfReady(gen)
          // 3. append-first under the current pointer — the stream
          //    never waits for training
          val (ptr, _) = pointer()
          val (coarseF, booksF) = frozenModels(ptr)
          ProductQuantizer.ivfPqEncodeWith(
              spark.read.parquet(s"$idx/arrived/gen=$gen"),
              "vec_id", "embedding", HouseM, coarseF, booksF)
            .write.mode("overwrite").parquet(s"$idx/append/gen=$gen")
          // 4. PSI gate from STORED state (1-row statistic)
          val psi = IndexDrift.occupancyPsiFromOccupancies(
              spark.read.parquet(s"$ptr/base_occ"),
              IndexDrift.occupancyOfCodes(
                spark.read.parquet(s"$idx/append/gen=$gen")),
              coarseF)
            .select(col("psi")).collect()(0).getDouble(0)
          val fired = psi > 0.75
          // 5. fired → REQUEST (durable record, then the concurrent
          //    worker); coalesce if an earlier request is still open
          val pendingBefore = handoff.requests()
            .filterNot(adoptedSwitches().toSet).filter(_ < gen)
          // restart recovery, not just documentation: a pending request
          // whose worker died with a previous driver re-arms here — a
          // no-op on every healthy trigger (the Handoff's launched
          // set), a re-launch exactly when durable state says a request
          // exists with no done marker
          handoff.rearm(pendingBefore)
          val requested = fired && pendingBefore.isEmpty
          if (requested) {
            // the simulated death leaves exactly the crash-window state
            // (record durable, no worker) for the drifted trigger's
            // request — recovery picks it up above
            val rec = spark.range(1).select(lit(gen).as("gen"))
            if (dieAfterRequest && gen == 2) handoff.submitRecord(gen, rec)
            else handoff.submit(gen, rec)
          }
          // 6. durable per-generation log row, written LAST — `ms` is
          //    the trigger's whole synchronous cost (what a 100 TB
          //    stream pays per micro-batch while a retrain runs
          //    concurrently), and `ptr_reads` the switch-RECORD reads
          //    this trigger issued (the O(1)-in-history probe;
          //    contract-asserted ≤ 1)
          spark.range(1)
            .select(lit(gen).as("gen"), lit(phase).as("phase"),
              lit(fired).as("retrain_fired"),
              lit(requested).as("retrain_requested"),
              lit(pendingBefore.nonEmpty).as("inflight"),
              lit(ptr != mDir).as("on_retrained"),
              lit(SwitchLog.recordReads(s"$idx/switch") - reads0)
                .as("ptr_reads"),
              lit((System.nanoTime() - t0) / 1000000L).as("ms"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // wipe durable state from any PRIOR run of this query in the same
    // process (scratch paths are per-sfDir): the pointer is log-derived
    Seq("log", "req", "retrain", "switch", "arrived", "append")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))

    // offline build over base: the shared persist-first frozen layout
    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q86 frozen coarse-centroid table")

    // gen 1: one clean batch (ids ≡ 8 mod 30 — non-empty from 3 rows up)
    val cleanDir = s"$idx/src/clean"
    clean.filter(pmod(col("vec_id"), lit(30)) === 8)
      .coalesce(1).write.mode("overwrite").parquet(cleanDir)
    drive(cleanDir, "clean", genOffset = 0)
    // gen 2: the drifted batch — fires, REQUESTS, keeps streaming
    val driftDir = s"$idx/src/drift"
    driftSrc.coalesce(1).write.mode("overwrite").parquet(driftDir)
    drive(driftDir, "drift", genOffset = 1)
    // gens 3-4: clean batches landing WHILE the retrain runs (the
    // thread is gated on gen 4's trigger completing, so the overlap is
    // structural)
    val gapDir = s"$idx/src/gap"
    for ((r, i) <- Seq(18, 28).zipWithIndex)
      clean.filter(pmod(col("vec_id"), lit(30)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(gapDir)
    drive(gapDir, "gap", genOffset = 2)
    // the handoff: wait for the retrain to LAND (sequencing only — the
    // stream above already proved it keeps appending while training)
    handoff.joinAll()
    // gen 5: a fresh-id copy of the merged corpus — the switching
    // trigger folds gens 3-4 and appends quietly on the retrained index
    // (postShifted: shifted AGAIN — must fire a SECOND request)
    val postDir = s"$idx/src/post"
    val mergedCopy = base.unionByName(clean).unionByName(driftSrc)
    (if (postShifted)
       IndexDrift.shifted(mergedCopy, "vec_id", "embedding")
     else mergedCopy)
      .select((col("vec_id") + lit(2 * idSpan)).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(postDir)
    drive(postDir, "post", genOffset = 4)
    // maintenance pass: adopt any retrain that completed after the
    // last trigger (the postShifted second fire lands here)
    handoff.joinAll()
    val maxGen = genDirs(spark, s"$idx/arrived", "gen=").max
    switchIfReady(maxGen + 1)

    // ---- serving state, derived from the same durable records --------
    val (ptr, foldedThrough) = pointer()
    val folds = genDirs(spark, s"$ptr/fold", "gen=")
    val foldCodes = folds.map(g =>
      codeCols(spark.read.parquet(s"$ptr/fold/gen=$g")))
    val appendsAfter = genDirs(spark, s"$idx/append", "gen=")
      .filter(_ > foldedThrough)
    val appendCodes = appendsAfter.map(g =>
      codeCols(spark.read.parquet(s"$idx/append/gen=$g")))
    val serving = (foldCodes ++ appendCodes)
      .foldLeft(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))(
        _.unionByName(_))
    // one-shot comparison: everything past the retrain snapshot,
    // re-encoded in ONE batch under the same persisted models — the
    // fold + post-switch-append plumbing must be invisible to queries
    val snapGen = adoptedSwitches().maxOption.getOrElse(0L)
    val lateGens = genDirs(spark, s"$idx/arrived", "gen=").filter(_ > snapGen)
    val (coarseP, booksP) = frozenModels(ptr)
    val oneShot = lateGens
      .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
      .reduceOption(_.unionByName(_))
      .map(raws => codeCols(spark.read.parquet(s"$ptr/codes/gen=0"))
        .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
          raws, "vec_id", "embedding", HouseM, coarseP, booksP))))
      .getOrElse(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))
    val same = sameCodeRows(serving, oneShot, "same_as_oneshot_fold")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseP, booksP, serving, "vec_id",
      nProbe = 4, k = 10)

    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        (count(when(col("phase").isin("clean", "gap") &&
          col("retrain_fired"), 1)) === 0).as("clean_quiet"),
        (count(when(col("phase") === "drift" && !col("retrain_fired"), 1))
          === 0 && count(when(col("retrain_fired"), 1)) === 1)
          .as("drift_fires_once"),
        (count(when(col("inflight"), 1)) === 2 &&
          count(when(col("phase") === "gap" && !col("inflight"), 1)) === 0)
          .as("gaps_inflight"),
        (count(when(col("phase") === "post" && !col("on_retrained"), 1))
          === 0).as("post_on_retrained"),
        (count(when(col("phase") === "post" && col("retrain_fired"), 1))
          === 0).as("post_quiet"),
        // O(1)-in-history: no trigger may read more than ONE switch
        // record, no matter how many retrains the stream has adopted
        (max(col("ptr_reads")) <= 1).as("ptr_reads_bounded"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("clean_quiet"), col("drift_fires_once"),
        col("gaps_inflight"), col("post_on_retrained"), col("post_quiet"),
        col("ptr_reads_bounded"),
        col("n_index"), col("ids_unique"), col("same_as_oneshot_fold"),
        col("n_results"))
  }

  /** [[streamIndexRetrainAsync]] with the GAP FOLD itself taken off the
    * trigger — the last in-trigger O(>batch) cost in the streaming
    * index story removed (r12's lead finding). q86's switching trigger
    * re-encodes EVERY gap generation inline before flipping the
    * pointer: bounded by retrain duration / trigger period, but at
    * hour-scale retrains that is hundreds of O(batch) re-encode jobs
    * concentrated into one stall — effectively re-ingesting everything
    * that arrived during the retrain, synchronously. Here the q89
    * machinery (a second [[Handoff]]) folds the gap CONCURRENTLY:
    *
    *   - the retrain's done marker SEALS the gap set: generations
    *     between the request and the observing trigger are immutable
    *     once their trigger completes (raws are overwrite-keyed and
    *     never rewritten);
    *   - the trigger that observes a completed-but-unswitched retrain
    *     writes a durable FOLD request naming the sealed range
    *     `(sealed_from, sealed_to]`; a job-group-detached pooled
    *     worker re-encodes those raw batches under the NEW model;
    *   - generations landing while the fold runs stay on the OLD
    *     pointer — internally consistent serving (every stored code
    *     row under ONE model's codebooks; mixing would make ADC
    *     scores incomparable), which is exactly why "serve the new
    *     pointer with unfolded gaps" is rejected;
    *   - the next trigger to observe the fold done either ADOPTS
    *     (residual gap empty: one switch write flips the pointer, and
    *     ITS OWN batch encodes fresh under the new model) or seals the
    *     residual into the next fold request — the catch-up recursion,
    *     each round bounded by fold duration / trigger period, so the
    *     residual shrinks geometrically whenever folds outpace
    *     arrivals (the steady-state assumption every compaction
    *     scheme needs; if arrivals outpace re-encode the system is
    *     under-provisioned regardless of architecture).
    *
    * Every synchronous trigger cost is O(batch): append, PSI gate,
    * request writes, the adoption's single manifest write. Training
    * AND gap folding both run off-trigger. The fold worker + the
    * seal/re-arm/adopt decision live in [[FoldMachine]] (THE canonical
    * serving path — FoldMachineSpec drives it against synthetic durable
    * state for the cases this harness cannot reach), and the pointer in
    * [[SwitchLog]]: adopted-set membership from the directory listing,
    * ONE 1-row record read per trigger regardless of switch history
    * (`ptr_reads_bounded` in the contract row — the r13 lead fix).
    *
    * Delivery harness (q78 exactness discipline; gates are
    * scaffolding, production launches immediately): gen 1 clean; gen 2
    * drifted (fires, retrain REQUEST, gated on gen 4 completing); gens
    * 3-4 clean gap (retrain provably in flight); [join] gen 5 clean —
    * observes the retrain done, writes FOLD request #1 sealing
    * (2, 5], gated on gen 6 completing; gen 6 clean (fold #1 provably
    * in flight — the append-during-fold proof); [join] gen 7 clean —
    * observes fold #1 done, residual {6, 7} nonempty → FOLD request #2
    * sealing (5, 7], gated on its own log row; [join] gen 8 post
    * (fresh-id merged copy) — observes fold #2 done, residual EMPTY →
    * adopts with one switch write, encodes itself under the new
    * pointer, appends quietly. Gens 5-7 are fresh-id copies of the
    * full clean set (in-distribution, so the PSI gate stays quiet on
    * the old pointer; id offsets 4·span/5·span/6·span keep every copy
    * disjoint from the post copy's [2·span, 4·span) range).
    *
    * Contracts (one row, deterministic): 8 triggers; clean/gap/fold
    * phases quiet; drift fires exactly once; both gap gens
    * retrain-inflight; 2 fold requests; gen 6 appends with the fold in
    * flight; NO trigger before the adoption serves the retrained
    * pointer (old-pointer-until-adopted); exactly 1 in-stream
    * adoption; the post gen runs ON the retrained pointer, quietly;
    * serving covers base + every arrival exactly once
    * (2·n + 3·n_clean); ids unique; serving row-identical to a
    * one-shot re-encode of all post-snapshot raws under the persisted
    * retrained model; per-trigger switch-record reads bounded as the
    * invariant pair — quiet triggers ≤ 1, adopting triggers ≤ 3
    * (pointer + the amortized-O(1) archival consolidation), O(1) in
    * switch history either way (ptr_reads_bounded); k=10 probe.
    *
    * `postShifted` (spec-only, the LIVE second-cycle proof): after the
    * in-stream adoption, gen 9 delivers a drifted fresh-id copy — it
    * must fire a SECOND retrain against the adopted pointer, and the
    * maintenance belt must adopt cycle 2 WITHOUT folding anything:
    * the new snapshot already covers every generation. Cycle 1's fold
    * requests were swept at its own adoption (the q94 close-cycle
    * step), which removes the r13 ADVICE stale-request hazard
    * STRUCTURALLY; the `math.max(rr, …)` seal guard in
    * [[FoldMachine.maintain]] remains the belt for the crash window
    * where the sweep dies between the switch write and the delete —
    * FoldMachineSpec pins that window with planted stale state
    * (without the guard, gens 8–9 would be re-encoded into a fold
    * their snapshot already carries, and ids_unique /
    * same_as_oneshot_fold fail loudly).
    */
  def streamIndexRetrainFoldAsync(
      spark: SparkSession, sfDir: String,
      postShifted: Boolean = false): DataFrame = {
    import graft.operators.{IndexDrift, ProductQuantizer}
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    val idSpan = all.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val driftSrc = IndexDrift
      .shifted(all.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding")
      .select((col("vec_id") + lit(idSpan)).as("vec_id"), col("embedding"))
    val idx = graft.RunPaths.scratch(
      s"graft_q90_index_${graft.RunPaths.keyFor(sfDir)}" +
        (if (postShifted) "_ps" else ""))
    val mDir = s"$idx/model"

    // ---- the retrain handoff + the canonical fold machine ------------
    // durable-state accessors live in FoldMachine/SwitchLog: adopted-set
    // membership from the directory listing, the serving pointer from
    // ONE 1-row record read (O(1) in switch history — the r13 lead fix)
    val retrainH = new Handoff(spark, s"$idx/req",
      g => s"$idx/retrain/req=$g/_RETRAIN_DONE",
      "graft-q90-retrain")({ (reqGen, _) =>
      // delivery gate: both gap triggers must log inflight first
      val gate = new java.io.File(s"$idx/log/gen=4/_SUCCESS")
      val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
      while (!gate.exists()) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            "q90 retrain gate timed out waiting for gen 4")
        Thread.sleep(100)
      }
      val snapshot = (1L to reqGen)
        .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
        .foldLeft(base)(_.unionByName(_))
        .localCheckpoint(true)
      LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
        s"$idx/retrain/req=$reqGen", "q90 retrained coarse-centroid table")
      ()
    })
    // THE canonical serving-path state machine (fold worker + the
    // maintain() seal/re-arm/adopt decision + the SwitchLog pointer) —
    // shared with FoldMachineSpec's synthetic-state cases; q86's inline
    // switch stays only as q86's declared contract
    val fm = new FoldMachine(spark, idx, retrainH, "graft-q90-fold",
      "q90 frozen coarse-centroid table")
    def frozenModels(dir: String): (DataFrame, DataFrame) =
      fm.frozenModels(dir)

    def drive(srcDir: String, phase: String, genOffset: Int): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val reads0 = fm.recordReads()
          val gen = genOffset + id + 1
          // 1. persist the raw batch (folds and retrains read THIS)
          batch.select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$idx/arrived/gen=$gen")
          // 2. fold/adopt state machine — O(batch) at most (a request
          //    or one switch write); the re-encode itself is fm.foldH's
          val (foldRequested, foldInflight, adopted) = fm.maintain(gen)
          // 3. append under the CURRENT pointer (old until adopted —
          //    serving stays internally consistent under one model)
          val (ptr, _) = fm.pointer(mDir)
          val (coarseF, booksF) = frozenModels(ptr)
          ProductQuantizer.ivfPqEncodeWith(
              spark.read.parquet(s"$idx/arrived/gen=$gen"),
              "vec_id", "embedding", HouseM, coarseF, booksF)
            .write.mode("overwrite").parquet(s"$idx/append/gen=$gen")
          // 4. PSI gate from STORED state (1-row statistic)
          val psi = IndexDrift.occupancyPsiFromOccupancies(
              spark.read.parquet(s"$ptr/base_occ"),
              IndexDrift.occupancyOfCodes(
                spark.read.parquet(s"$idx/append/gen=$gen")),
              coarseF)
            .select(col("psi")).collect()(0).getDouble(0)
          val fired = psi > 0.75
          // 5. fired → retrain REQUEST (coalesced while one is open);
          //    membership is the same threshold maintain() uses (req >
          //    max live adopted — sound because adoption order follows
          //    request order and the newest switch is never archived),
          //    from the listing alone, no record reads
          val maxAd = fm.adopted().maxOption.getOrElse(Long.MinValue)
          val pendingR = retrainH.requests()
            .filter(r => r > maxAd && r < gen)
          retrainH.rearm(pendingR)
          val requested = fired && pendingR.isEmpty
          if (requested)
            retrainH.submit(gen, spark.range(1).select(lit(gen).as("gen")))
          // 6. durable log row, LAST (ms = whole synchronous cost;
          //    ptr_reads = switch-record reads this trigger issued —
          //    the O(1)-in-history probe, contract-asserted ≤ 1)
          spark.range(1)
            .select(lit(gen).as("gen"), lit(phase).as("phase"),
              lit(fired).as("retrain_fired"),
              lit(requested).as("retrain_requested"),
              lit(pendingR.nonEmpty && !retrainH.isDone(
                pendingR.headOption.getOrElse(-1L))).as("retrain_inflight"),
              lit(foldRequested).as("fold_requested"),
              lit(foldInflight).as("fold_inflight"),
              lit(adopted).as("adopted"),
              lit(ptr != mDir).as("on_retrained"),
              lit(fm.recordReads() - reads0).as("ptr_reads"),
              lit((System.nanoTime() - t0) / 1000000L).as("ms"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // wipe durable state from any PRIOR run in this process
    Seq("log", "req", "fold_req", "retrain", "switch", "arrived", "append")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q90 frozen coarse-centroid table")

    // gen 1: one clean batch (ids ≡ 8 mod 30)
    val cleanDir = s"$idx/src/clean"
    clean.filter(pmod(col("vec_id"), lit(30)) === 8)
      .coalesce(1).write.mode("overwrite").parquet(cleanDir)
    drive(cleanDir, "clean", genOffset = 0)
    // gen 2: the drifted batch — fires, REQUESTS, keeps streaming
    val driftDir = s"$idx/src/drift"
    driftSrc.coalesce(1).write.mode("overwrite").parquet(driftDir)
    drive(driftDir, "drift", genOffset = 1)
    // gens 3-4: clean batches WHILE the retrain runs
    val gapDir = s"$idx/src/gap"
    for ((r, i) <- Seq(18, 28).zipWithIndex)
      clean.filter(pmod(col("vec_id"), lit(30)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(gapDir)
    drive(gapDir, "gap", genOffset = 2)
    fm.joinAll()
    // gens 5-6: fold phase A — gen 5 requests fold #1 (seals 3..5),
    // gen 6 appends WHILE it folds; fresh-id full-clean copies keep
    // the PSI gate quiet on the old pointer
    val foldADir = s"$idx/src/fold_a"
    for ((off, i) <- Seq(4L, 5L).zipWithIndex)
      clean.select((col("vec_id") + lit(off * idSpan)).as("vec_id"),
          col("embedding"))
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(foldADir)
    drive(foldADir, "fold", genOffset = 4)
    fm.joinAll()
    // gen 7: fold phase B — observes fold #1 done, seals the residual
    // {6, 7} into fold #2
    val foldBDir = s"$idx/src/fold_b"
    clean.select((col("vec_id") + lit(6L * idSpan)).as("vec_id"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(foldBDir)
    drive(foldBDir, "fold", genOffset = 6)
    fm.joinAll()
    // gen 8: post — observes fold #2 done, residual empty → ADOPTS,
    // encodes itself under the new pointer, appends quietly
    val postDir = s"$idx/src/post"
    base.unionByName(clean).unionByName(driftSrc)
      .select((col("vec_id") + lit(2 * idSpan)).as("vec_id"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(postDir)
    drive(postDir, "post", genOffset = 7)
    if (postShifted) {
      // cycle 2, LIVE: a drifted gen 9 fires a second retrain against
      // the adopted pointer; the belt below must adopt it WITHOUT
      // folding (its snapshot covers gens 1-9), with the stale
      // cycle-1 fold requests still on disk — the ADVICE-a scenario
      val post2Dir = s"$idx/src/post2"
      IndexDrift.shifted(base.unionByName(clean).unionByName(driftSrc),
          "vec_id", "embedding")
        .select((col("vec_id") + lit(7 * idSpan)).as("vec_id"),
          col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(post2Dir)
      drive(post2Dir, "post2", genOffset = 8)
    }
    // maintenance pass: nothing pending in the healthy schedule (the
    // adoption happened in-stream at gen 8); idempotent belt. Loop
    // join+maintain until the machine reports QUIET — a single fixed
    // number of rounds would leave a freshly re-armed or freshly
    // sealed fold un-joined (its pointer un-flipped, its daemon
    // worker's failure swallowed) in the restart shapes Handoff
    // advertises; each round either re-arms, seals, adopts, or is the
    // terminal no-op, so the loop is bounded by design (belt at 8)
    val maxGenAll = genDirs(spark, s"$idx/arrived", "gen=").max
    var quiet = false
    var beltRounds = 0
    while (!quiet && beltRounds < 8) {
      fm.joinAll()
      val (req, inflight, adopted) = fm.maintain(maxGenAll + 1)
      quiet = !req && !inflight && !adopted
      beltRounds += 1
    }
    fm.joinAll()

    // ---- serving state, derived from the same durable records --------
    val (ptr, foldedThrough) = fm.pointer(mDir)
    val foldCodes = genDirs(spark, s"$ptr/fold", "gen=").map(g =>
      codeCols(spark.read.parquet(s"$ptr/fold/gen=$g")))
    val appendCodes = genDirs(spark, s"$idx/append", "gen=")
      .filter(_ > foldedThrough).map(g =>
        codeCols(spark.read.parquet(s"$idx/append/gen=$g")))
    val serving = (foldCodes ++ appendCodes)
      .foldLeft(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))(
        _.unionByName(_))
    val snapGen = fm.adopted().maxOption.getOrElse(0L)
    val lateGens = genDirs(spark, s"$idx/arrived", "gen=").filter(_ > snapGen)
    val (coarseP, booksP) = frozenModels(ptr)
    val oneShot = lateGens
      .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
      .reduceOption(_.unionByName(_))
      .map(raws => codeCols(spark.read.parquet(s"$ptr/codes/gen=0"))
        .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
          raws, "vec_id", "embedding", HouseM, coarseP, booksP))))
      .getOrElse(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))
    val same = sameCodeRows(serving, oneShot, "same_as_oneshot_fold")
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, coarseP, booksP, serving, "vec_id",
      nProbe = 4, k = 10)

    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        (count(when(col("phase").isin("clean", "gap", "fold") &&
          col("retrain_fired"), 1)) === 0).as("clean_quiet"),
        (count(when(col("phase") === "drift" && !col("retrain_fired"), 1))
          === 0 && count(when(col("retrain_fired"), 1)) === 1)
          .as("drift_fires_once"),
        (count(when(col("retrain_inflight"), 1)) === 2 &&
          count(when(col("phase") === "gap" && !col("retrain_inflight"), 1))
            === 0).as("gaps_inflight"),
        count(when(col("fold_requested"), 1)).as("n_fold_requests"),
        count(when(col("fold_inflight"), 1)).as("n_gens_during_fold"),
        (count(when(col("phase") =!= "post" && col("on_retrained"), 1))
          === 0).as("old_pointer_until_adopted"),
        count(when(col("adopted"), 1)).as("n_adopted_in_stream"),
        (count(when(col("phase") === "post" && !col("on_retrained"), 1))
          === 0).as("post_on_retrained"),
        (count(when(col("phase") === "post" && col("retrain_fired"), 1))
          === 0).as("post_quiet"),
        // O(1)-in-history, stated as the invariant PAIR that survives
        // any number of adoptions: a QUIET trigger reads at most ONE
        // switch record (the pointer), and an ADOPTING trigger at most
        // three (pointer + the amortized-O(1) archival consolidation —
        // prior checkpoint + the records being archived, each a
        // once-per-adoption job). A flat max ≤ 1 would hold only while
        // the stream has at most keepSwitches adoptions, i.e. it would
        // be a property of this fixture, not of the design
        (coalesce(max(when(!col("adopted"), col("ptr_reads"))), lit(0L))
          <= 1 &&
          coalesce(max(when(col("adopted"), col("ptr_reads"))), lit(0L))
          <= 3).as("ptr_reads_bounded"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(same)
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("clean_quiet"), col("drift_fires_once"),
        col("gaps_inflight"), col("n_fold_requests"),
        col("n_gens_during_fold"), col("old_pointer_until_adopted"),
        col("n_adopted_in_stream"), col("post_on_retrained"),
        col("post_quiet"), col("ptr_reads_bounded"),
        col("n_index"), col("ids_unique"),
        col("same_as_oneshot_fold"), col("n_results"))
  }

  /** The as-of reconstruction shared by q93 ([[indexServeAsOf]]) and
    * q94 ([[indexSwitchArchive]]) — extracted because the next change
    * to the reconstruction protocol must have exactly one place to
    * land (the publishEpoch lesson): resolve the switch active as of
    * generation `g` from the durable log (the probe-counted AUDIT
    * path), then serving = that pointer's snapshot codes ∪ the appends
    * in `(folded_through, g]` — each of which was encoded under this
    * same pointer when it arrived (old-pointer-until-adopted) — and
    * the one-shot contrast re-encodes the same raws in ONE batch under
    * the same persisted models. Returns (serving, oneShot, pointerDir,
    * auditReadJobs).
    */
  private def asOfReconstruction(
      spark: SparkSession, idx: String, mDir: String, stampMsg: String,
      g: Long): (DataFrame, DataFrame, String, Long) = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val sroot = s"$idx/switch"
    val reads0 = SwitchLog.recordReads(sroot)
    val p = SwitchLog.pointerAsOf(spark, sroot, g)
    val auditReads = SwitchLog.recordReads(sroot) - reads0
    val (pd, folded) = p
      .map { case (r, f) => (s"$idx/retrain/req=$r", f) }
      .getOrElse((mDir, 0L))
    val serving = genDirs(spark, s"$idx/append", "gen=")
      .filter(gg => gg > folded && gg <= g)
      .map(gg => codeCols(spark.read.parquet(s"$idx/append/gen=$gg")))
      .foldLeft(codeCols(spark.read.parquet(s"$pd/codes/gen=0")))(
        _.unionByName(_))
    val cF = LlmOps.modelScaleStamp(
      spark.read.parquet(s"$pd/coarse"), stampMsg)
    val bF = spark.read.parquet(s"$pd/books")
    val oneShot = (folded + 1 to g)
      .map(gg => spark.read.parquet(s"$idx/arrived/gen=$gg"))
      .reduceOption(_.unionByName(_))
      .map(raws => codeCols(spark.read.parquet(s"$pd/codes/gen=0"))
        .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
          raws, "vec_id", "embedding", HouseM, cF, bF))))
      .getOrElse(codeCols(spark.read.parquet(s"$pd/codes/gen=0")))
    (serving, oneShot, pd, auditReads)
  }

  /** TIME-TRAVEL serving from the durable switch log — the payoff of
    * the family's replay discipline made a first-class operator: every
    * serving decision lives in storage (switch records with
    * `(req, folded_through, at_gen)`, overwrite-keyed raw/append/code
    * generations), so "what did the index serve AS OF generation G?"
    * is answerable offline, exactly, with no snapshot ever having been
    * taken — the reproducibility/audit question a training-data
    * pipeline gets asked months later ("which neighbors did retrieval
    * return when batch G was built?").
    *
    * Reconstruction: `pointerAsOf(G)` picks the last switch adopted
    * at-or-before G (the audit path — record reads up to the answer's
    * position, bounded by O(adoptions), never the trigger path, which
    * stays O(1) via [[SwitchLog.pointer]]); serving(G) = that pointer's snapshot
    * codes ∪ the appends in `(folded_through, G]` — each of which was
    * itself encoded under that same pointer when it arrived, so the
    * reconstruction is internally consistent under ONE model by the
    * family's own old-pointer-until-adopted invariant.
    *
    * Fixture (deterministic replay of the q90 protocol, no streaming
    * harness): 6 arrival generations (clean-class slices, residues
    * 8+10i mod 60), two retrain cycles adopted at gens 3 and 6
    * (snapshots over raws 1-2 and 1-5; empty gaps — gap-fold
    * reconstruction is q90's domain), every append encoded under the
    * pointer active at its generation. Contracts: serving as of G ∈
    * {2, 4, 6} — spanning pre-first-switch (base model + appends),
    * mid-cycle (retrain #1 + its appends), and at-the-second-adoption
    * (retrain #2 + its own-gen append) — each ROW-IDENTICAL to a
    * one-shot re-encode of base + raws ≤ G under the same persisted
    * as-of models, with closed-form counts; k=10 probe served on the
    * G=6 reconstruction.
    */
  def indexServeAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    val idx = graft.RunPaths.scratch(
      s"graft_q93_index_${graft.RunPaths.keyFor(sfDir)}")
    val mDir = s"$idx/model"
    Seq("arrived", "append", "switch", "retrain", "model")
      .foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    val sroot = s"$idx/switch"

    def models(dir: String) =
      (LlmOps.modelScaleStamp(spark.read.parquet(s"$dir/coarse"),
        "q93 frozen coarse-centroid table"),
        spark.read.parquet(s"$dir/books"))
    def ptrDir(p: Option[(Long, Long)]): (String, Long) =
      p.map { case (r, f) => (s"$idx/retrain/req=$r", f) }.getOrElse((mDir, 0L))

    // offline build, then the six generations, replaying the protocol:
    // raw persisted first; a retrain adopted AT gens 3 and 6 (snapshot
    // read back from the raws — persist-then-reread); every append
    // encoded under the pointer active at its own generation
    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q93 frozen coarse-centroid table", withOccupancy = false)
    for (g <- 1L to 6L) {
      clean.filter(pmod(col("vec_id"), lit(60)) === 8 + 10 * (g - 1))
        .write.mode("overwrite").parquet(s"$idx/arrived/gen=$g")
      if (g == 3L || g == 6L) {
        val rr = g - 1 // the retrain "requested" at the previous gen
        val snapshot = (1L to rr)
          .map(gg => spark.read.parquet(s"$idx/arrived/gen=$gg"))
          .foldLeft(base)(_.unionByName(_)).localCheckpoint(true)
        LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
          s"$idx/retrain/req=$rr", "q93 frozen coarse-centroid table",
          withOccupancy = false)
        SwitchLog.write(spark, sroot, rr, foldedThrough = rr, atGen = g)
      }
      val (pd, _) = ptrDir(SwitchLog.pointer(spark, sroot))
      val (cF, bF) = models(pd)
      ProductQuantizer.ivfPqEncodeWith(
          spark.read.parquet(s"$idx/arrived/gen=$g"),
          "vec_id", "embedding", HouseM, cF, bF)
        .write.mode("overwrite").parquet(s"$idx/append/gen=$g")
    }

    // ---- as-of reconstructions, each against its one-shot shape -----
    // (the shared asOfReconstruction — the audit-read counts it
    // returns are IndexAsOfSpec's territory, not this contract row's)
    def asOf(g: Long): (DataFrame, DataFrame, String) = {
      val (serving, oneShot, pd, _) = asOfReconstruction(
        spark, idx, mDir, "q93 frozen coarse-centroid table", g)
      (serving, oneShot, pd)
    }
    val (s2, o2, p2) = asOf(2L)
    val (s4, o4, p4) = asOf(4L)
    val (s6, o6, p6) = asOf(6L)
    val (cP, bP) = models(p6)
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, cP, bP, s6, "vec_id", nProbe = 4, k = 10)

    s2.agg(count(lit(1)).as("n_asof_2"))
      .crossJoin(sameCodeRows(s2, o2, "asof_2_exact"))
      .crossJoin(s4.agg(count(lit(1)).as("n_asof_4")))
      .crossJoin(sameCodeRows(s4, o4, "asof_4_exact"))
      .crossJoin(s6.agg(count(lit(1)).as("n_asof_6"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(sameCodeRows(s6, o6, "asof_6_exact"))
      .crossJoin(spark.range(1).select(
        lit(p2 == mDir).as("asof_2_on_base"),
        lit(p4 == s"$idx/retrain/req=2").as("asof_4_on_first_retrain"),
        lit(p6 == s"$idx/retrain/req=5").as("asof_6_on_second_retrain")))
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_asof_2"), col("asof_2_exact"), col("asof_2_on_base"),
        col("n_asof_4"), col("asof_4_exact"),
        col("asof_4_on_first_retrain"),
        col("n_asof_6"), col("asof_6_exact"),
        col("asof_6_on_second_retrain"),
        col("ids_unique"), col("n_results"))
  }

  /** ARCHIVAL CHECKPOINT for the retrain family's protocol records
    * (q94) — the last unbounded durable growth in the streaming index
    * story closed. q87 bounded the raw/code generations, q88/q91/q92
    * the epochs and tombstones, and the r14 SwitchLog split the
    * per-trigger RECORD READS — but the protocol records themselves
    * still grew one directory per retrain cycle forever (`switch/req=`,
    * `req/req=`, `fold_req/req=`): per-trigger listings are cheap but
    * O(lifetime) (~720 dirs a month at hour-scale retrains, and an S3
    * LIST pages at 1k), and the q93 audit path paid one 1-row job per
    * historical adoption. [[FoldMachine]]'s close-cycle step at
    * adoption bounds all three: fold requests and adopted retrain
    * request records are swept (their outcome is subsumed by the
    * switch record), and the switch log is archived down to
    * `keepSwitches` live records with the closed history consolidated
    * into ONE small parquet ([[SwitchLog.archive]]) — so every listing
    * a trigger pays is O(current cycle) for the stream's lifetime, and
    * the audit path reads the whole closed history in one job plus
    * O(keep) record reads instead of O(adoptions).
    *
    * Time travel is PRESERVED exactly: the archive carries the same
    * write-once `(req, folded_through, at_gen)` facts the live records
    * did, and the retrain ARTIFACTS (models, snapshot codes, folds)
    * are never archived — so [[SwitchLog.pointerAsOf]] reconstructions
    * whose answer lies in ARCHIVED history stay row-identical to
    * one-shot re-encodes under the as-of models.
    *
    * Fixture (deterministic replay, q93 style, through the REAL
    * FoldMachine with `keepSwitches = 1`): 9 generations, 4 retrain
    * cycles. Cycles 1–3 request at gens 1/3/5 (snapshot over raws ≤
    * request gen) and are observed + adopted by the next generation's
    * `maintain` with an empty gap. Cycle 4 requests at gen 7 but its
    * worker is gated until after gen 8 (the in-flight generation), so
    * gen 9's maintain seals the residual gap (7, 9] into a fold
    * request — exercising the fold-request sweep too — and the
    * maintenance belt adopts with `folded_through = 9`. Adoptions 2–4
    * archive: final state is ONE live switch dir (req=7), the archive
    * holding {1, 3, 5}, and zero request/fold-request scaffolding.
    *
    * Contracts (one row): 9 triggers; 4 adoptions with the full
    * history visible through the archive; 3 records archived; live
    * switch dirs ≤ keep and request dirs ≤ 1 after EVERY trigger, 0
    * at end; per-trigger switch-record reads stay ≤ 1 on quiet
    * triggers and ≤ 3 on adopting ones (pointer + the amortized-O(1)
    * archive consolidation — every record archived exactly once);
    * as-of generation 2 and as-of generation 9 — both of whose switch
    * records are ARCHIVED — each row-identical to a one-shot re-encode
    * under the as-of pointer's persisted models, at ≤ 2 record-read
    * jobs each regardless of adoption count; final serving exact vs a
    * one-shot re-encode under the last retrain; ids unique; k=10
    * probe.
    */
  def indexSwitchArchive(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.ProductQuantizer
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    val idx = graft.RunPaths.scratch(
      s"graft_q94_index_${graft.RunPaths.keyFor(sfDir)}")
    val mDir = s"$idx/model"
    Seq("arrived", "append", "switch", "retrain", "req", "fold_req",
      "model", "log").foreach(d => wipeDir(new java.io.File(s"$idx/$d")))
    new java.io.File(s"$idx/gate_r7").delete()

    val retrainH = new Handoff(spark, s"$idx/req",
      g => s"$idx/retrain/req=$g/_RETRAIN_DONE",
      "graft-q94-retrain")({ (reqGen, _) =>
      if (reqGen == 7L) {
        // delivery gate (harness scaffolding, not production): cycle
        // 4's retrain must provably span gen 8's trigger
        val gate = new java.io.File(s"$idx/gate_r7")
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (!gate.exists()) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              "q94 retrain gate timed out waiting for gen 8")
          Thread.sleep(50)
        }
      }
      val snapshot = (1L to reqGen)
        .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
        .foldLeft(base)(_.unionByName(_))
        .localCheckpoint(true)
      LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
        s"$idx/retrain/req=$reqGen", "q94 frozen coarse-centroid table",
        withOccupancy = false)
      ()
    })
    val fm = new FoldMachine(spark, idx, retrainH, "graft-q94-fold",
      "q94 frozen coarse-centroid table", gated = false, keepSwitches = 1)

    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q94 frozen coarse-centroid table", withOccupancy = false)

    var maxLiveSwitch = 0L
    var maxLiveReqs = 0L
    var quietReadsMax = 0L
    var adoptReadsMax = 0L
    for (g <- 1L to 9L) {
      clean.filter(pmod(col("vec_id"), lit(90)) === 8 + 10 * (g - 1))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$idx/arrived/gen=$g")
      val reads0 = fm.recordReads()
      val (_, _, adoptedNow) = fm.maintain(g)
      val (pd, _) = fm.pointer(mDir)
      val (cF, bF) = fm.frozenModels(pd)
      ProductQuantizer.ivfPqEncodeWith(
          spark.read.parquet(s"$idx/arrived/gen=$g"),
          "vec_id", "embedding", HouseM, cF, bF)
        .write.mode("overwrite").parquet(s"$idx/append/gen=$g")
      if (g % 2 == 1 && g <= 7) {
        retrainH.submit(g, spark.range(1).select(lit(g).as("gen")))
        if (g < 7) fm.joinAll() // cycle 4 stays in flight through gen 8
      }
      if (g == 8L) {
        new java.io.File(s"$idx/gate_r7").createNewFile()
        fm.joinAll()
      }
      val reads = fm.recordReads() - reads0
      if (adoptedNow) adoptReadsMax = math.max(adoptReadsMax, reads)
      else quietReadsMax = math.max(quietReadsMax, reads)
      maxLiveSwitch = math.max(maxLiveSwitch,
        genDirs(spark, s"$idx/switch", "req=").size.toLong)
      maxLiveReqs = math.max(maxLiveReqs,
        retrainH.requests().size.toLong)
    }
    fm.joinAll() // the gen-9 fold over the residual (7, 9]
    // maintenance belt: observes the fold done, adopts cycle 4 with
    // folded_through = 9 and closes the cycle (sweeps + archive)
    val beltReads0 = fm.recordReads()
    val (_, _, beltAdopted) = fm.maintain(10L)
    adoptReadsMax = math.max(adoptReadsMax, fm.recordReads() - beltReads0)
    require(beltAdopted, "q94: the maintenance belt must adopt cycle 4")

    val sroot = s"$idx/switch"
    val history = SwitchLog.historyReqs(spark, sroot)
    val nArchived = SwitchLog.archivedRecords(spark, sroot)
      .map(_.count()).getOrElse(0L)
    val liveFinal = SwitchLog.adopted(spark, sroot)
    val reqsFinal = retrainH.requests().size
    val foldReqsFinal = fm.foldH.requests().size

    def models(dir: String) = fm.frozenModels(dir)
    // the q93 as-of reconstruction (shared asOfReconstruction), here
    // driven THROUGH the archive: both probed answers (req=1, req=5)
    // live in archived history, and the returned audit-read counts
    // feed the audit_reads_bounded contract
    def asOf(g: Long): (DataFrame, DataFrame, String, Long) =
      asOfReconstruction(spark, idx, mDir,
        "q94 frozen coarse-centroid table", g)
    val (s2, o2, p2, r2) = asOf(2L)
    val (s9, o9, p9, r9) = asOf(9L)

    // final serving under the adopted cycle-4 pointer
    val (ptr, foldedThrough) = fm.pointer(mDir)
    val serving = (genDirs(spark, s"$ptr/fold", "gen=").map(g =>
        codeCols(spark.read.parquet(s"$ptr/fold/gen=$g"))) ++
      genDirs(spark, s"$idx/append", "gen=").filter(_ > foldedThrough)
        .map(g => codeCols(spark.read.parquet(s"$idx/append/gen=$g"))))
      .foldLeft(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))(
        _.unionByName(_))
    val snapGen = liveFinal.maxOption.getOrElse(0L)
    val (cP, bP) = models(ptr)
    val oneShot = genDirs(spark, s"$idx/arrived", "gen=")
      .filter(_ > snapGen)
      .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
      .reduceOption(_.unionByName(_))
      .map(raws => codeCols(spark.read.parquet(s"$ptr/codes/gen=0"))
        .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
          raws, "vec_id", "embedding", HouseM, cP, bP))))
      .getOrElse(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val served = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, cP, bP, serving, "vec_id", nProbe = 4, k = 10)

    spark.range(1)
      .select(lit(9L).as("n_triggers"),
        lit(history.size.toLong).as("n_adoptions"),
        lit(history == Seq(1L, 3L, 5L, 7L)).as("history_complete"),
        lit(nArchived).as("n_archived"),
        lit(maxLiveSwitch <= 1 && liveFinal == Seq(7L))
          .as("live_switch_bounded"),
        lit(maxLiveReqs <= 1 && reqsFinal == 0 && foldReqsFinal == 0)
          .as("scaffolding_bounded"),
        lit(quietReadsMax <= 1).as("quiet_reads_bounded"),
        lit(adoptReadsMax <= 3).as("adopt_reads_bounded"),
        lit(r2 <= 2 && r9 <= 2).as("audit_reads_bounded"),
        lit(p2 == s"$idx/retrain/req=1").as("asof_2_on_first_retrain"),
        lit(p9 == s"$idx/retrain/req=5").as("asof_9_on_third_retrain"))
      .crossJoin(s2.agg(count(lit(1)).as("n_asof_2")))
      .crossJoin(sameCodeRows(s2, o2, "asof_2_exact"))
      .crossJoin(s9.agg(count(lit(1)).as("n_asof_9")))
      .crossJoin(sameCodeRows(s9, o9, "asof_9_exact"))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(sameCodeRows(serving, oneShot, "serving_exact"))
      .crossJoin(served.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("n_adoptions"), col("history_complete"),
        col("n_archived"), col("live_switch_bounded"),
        col("scaffolding_bounded"), col("quiet_reads_bounded"),
        col("adopt_reads_bounded"), col("audit_reads_bounded"),
        col("n_asof_2"), col("asof_2_exact"), col("asof_2_on_first_retrain"),
        col("n_asof_9"), col("asof_9_exact"), col("asof_9_on_third_retrain"),
        col("n_index"), col("ids_unique"), col("serving_exact"),
        col("n_results"))
  }

  /** The pipeline behind [[streamPrioritySample]], parameterized on the
    * document stream so the spec can force scrambled multi-micro-batch
    * arrival and assert batch-equivalence.
    */
  def streamPrioritySampleFrom(
      spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    def scored(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("n_chars"),
        graft.queries.Sampling.priorityCol(col("n_chars"), col("doc_id"))
          .as("priority"))
    var sample = Vector.empty[(Long, Long, Double)]
    val q = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val top = scored(batch.toDF())
          .orderBy(col("priority").desc, col("doc_id").asc)
          .limit(k).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // distinct makes the merge idempotent: foreachBatch is
        // at-least-once, and a retried batch re-appends identical rows
        // which must not occupy two of the k slots
        sample = (sample ++ top).distinct
          .sortBy { case (id, _, p) => (-p, id) }
          .take(k)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    import spark.implicits._
    sample.toDF("doc_id", "n_chars", "priority")
      .orderBy(col("priority").desc, col("doc_id").asc)
  }

  /** Incremental SCD2 dimension maintenance from the CDC/event stream —
    * the streaming twin of q33_scd2. Each micro-batch (a) appends to a
    * bronze event log, (b) recomputes the type-2 history ONLY for the
    * users present in the batch (from their complete bronze log), and
    * (c) publishes a new history version = untouched users' rows +
    * recomputed rows. Because every affected user is rebuilt from their
    * FULL log, the final table is independent of micro-batch slicing
    * AND of arrival order — a late event that lands mid-history simply
    * triggers a correct rebuild of that user, the case where
    * append-only interval patching silently corrupts.
    *
    * Scale: per trigger the work is O(batch + affected users' history),
    * the standard incremental-materialization bound. The bronze rescan
    * is pruned by the affected-user join; at 100 TB bronze would be
    * bucketed by user so that join prunes file groups (the same layout
    * argument as q30_bucketed_join), and the version flip becomes a
    * table-format transactional commit (the q20_stream_upsert note).
    */
  def streamScd2(spark: SparkSession, sfDir: String): DataFrame =
    streamScd2From(spark, sfDir, eventsStream(spark, sfDir))

  /** The pipeline behind [[streamScd2]], parameterized on the event
    * stream so the spec can force multi-micro-batch, order-scrambled
    * arrival and assert batch-equivalence.
    */
  def streamScd2From(
      spark: SparkSession, sfDir: String, events: DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.expressions.Window
    val root = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_stream_scd2_${math.abs(sfDir.hashCode)}_${System.nanoTime()}")
    Files.createDirectories(root)
    // same pandas-representable open-interval sentinel as q33_scd2
    val sentinel = lit("2200-01-01 00:00:00").cast("timestamp")

    // q33's interval derivation: change points via lag, validity via lead
    def scd2(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      df.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to", coalesce(lead(col("ts"), 1).over(w), sentinel))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"))
    }

    var lastVersion = -1L
    val q = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        b.write.mode("append").parquet(root.resolve("bronze").toString)
        val affected = b.select(col("user_id")).distinct()
        val bronze = spark.read.parquet(root.resolve("bronze").toString)
        val recomputed = scd2(bronze.join(affected, "user_id"))
        val merged =
          if (lastVersion < 0) recomputed
          else spark.read.parquet(root.resolve(s"v$lastVersion").toString)
            .join(affected, Seq("user_id"), "left_anti")
            .unionByName(recomputed)
        merged.write.mode("overwrite")
          .parquet(root.resolve(s"v$batchId").toString)
        lastVersion = batchId
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(root.resolve(s"v$lastVersion").toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("valid_to") === sentinel, 1L).otherwise(0L))
          .as("n_current"),
        max(col("valid_from")).as("last_change_ts"))
      .orderBy("event_type")
  }

  /** SHARDED streamed lifecycle (r15, verdict #5): the
    * drift→retrain→fold→adopt machine run over the q97 sharded layout —
    * per-shard [[FoldMachine]]s, per-shard switch logs, per-shard gap
    * folds running independently — under ONE global model generation
    * (q97's stance: retrains stay global so ADC distances remain
    * comparable across the scatter-gather merge; a per-shard retrain
    * would put incomparable codebooks behind one top-k).
    *
    * CROSS-SHARD ADOPTION ORDERING — the protocol decision this
    * harness exists to pin: per-shard folds and adoptions are
    * deliberately UNSYNCHRONIZED (that is the parallelism the sharding
    * buys: S fold workers, 1/S blast radius each), so there is a
    * window where shard A's switch log says "retrained" while shard
    * B's still says "base". Merging across that window would score
    * code rows under two different codebook sets — incomparable. The
    * global serving rule is therefore a BARRIER ON READ: serve every
    * shard at the newest retrain request adopted by ALL shards'
    * switch logs (the base pointer while any shard lags). Each shard's
    * own pointer derivation stays O(1) in its switch history (the
    * `ptr_reads_bounded` contract, now PER SHARD); the global rule
    * reads S pointers — shard-count-scale, never history-scale. The
    * global retrain request record is swept only at the LAST shard's
    * adoption (the cross-shard close), mirroring how a per-shard
    * closeCycle sweeps per-shard scaffolding at its own adoption.
    *
    * Harness (deterministic; the global retrain is gated on arrivals
    * completing so the mixed window is CONSTRUCTED, not raced):
    * per-shard base codes under the global base model; clean arrivals
    * (2 files), one drifted arrival (fires ONE global retrain request
    * fanned out per shard), one clean GAP arrival while the retrain is
    * pending (the generation the snapshot misses — what the folds are
    * for); then shard 0's maintenance belt runs to adoption while
    * shard 1 HOLDS (mixed window: global rule must keep serving the
    * base pointer — contract-asserted — and shard 1's subtree must be
    * byte-untouched by shard 0's fold/adopt); shard 1 catches up, the
    * global pointer flips, the global request record is swept; a post
    * arrival appends per shard on the retrained pointers, quietly.
    * Final contract: the union serving equals a one-shot re-encode of
    * base + every arrival under the global retrained model,
    * row-identical, unique ids, TakeOrderedAndProject merge.
    *
    * MID-WINDOW SERVING (r16, verdict #7): batch queries (the q100
    * two-stage shape's ADC stage) are issued BEFORE the first shard's
    * belt and again INSIDE the mixed window, against the global-rule
    * pointer's union serving state. Because the rule is barrier-on-
    * read, shard 0's adoption must be serving-INVISIBLE until the
    * last shard adopts: the mid-window batch answer must be
    * row-identical to the pre-belt answer (every answer from ONE
    * consistent pointer — a rule that mixed shard 0's retrained codes
    * with the lagging shards' base codes would score the same rows
    * under incomparable codebooks and diverge). Contract-asserted
    * (`midwindow_batch_unchanged`), with the batch top-k plan's
    * two-phase partial aggregate required alongside.
    *
    * `filesPerTrigger` slices the clean phase's 2 files into 2 or 1
    * micro-batches — ShardedLifecycleSpec re-runs at the coarser
    * slicing and the one-shot equality (slicing-independent by
    * construction) pins slicing invariance transitively. `nShards`
    * generalizes the shard count (the registered query runs S=2; the
    * spec drives S=4 with the same contracts — empty per-shard
    * arrival slices, which S=4 makes common, are part of the surface).
    */
  def shardedLifecycle(spark: SparkSession, sfDir: String,
      filesPerTrigger: Int = 1, nShards: Int = 2): DataFrame = {
    import graft.operators.{IndexDrift, ProductQuantizer}
    import graft.queries.LlmOps
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val all = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val base = all.filter(!pmod(col("vec_id"), lit(10)).isin(8, 9))
    val clean = all.filter(pmod(col("vec_id"), lit(10)) === 8)
    val idSpan = all.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    val driftSrc = IndexDrift
      .shifted(all.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding")
      .select((col("vec_id") + lit(idSpan)).as("vec_id"), col("embedding"))
    val idx = graft.RunPaths.scratch(
      s"graft_q97lc_${graft.RunPaths.keyFor(sfDir)}_f${filesPerTrigger}_s$nShards")
    val mDir = s"$idx/model"
    def shardDir(i: Int) = s"$idx/shard=$i"
    def sliceOf(df: DataFrame, i: Int): DataFrame =
      df.filter(pmod(col("vec_id"), lit(nShards)) === i)

    wipeDir(new java.io.File(idx))
    // global base model (+ base_occ for the PSI gate); per-shard base
    // code generations under it — the q97 layout with a lifecycle
    LlmOps.buildFrozenIndex(spark, sfDir, base, mDir,
      "q97 lifecycle frozen coarse-centroid table")
    val (coarse0, books0) = (LlmOps.modelScaleStamp(
      spark.read.parquet(s"$mDir/coarse"),
      "q97 lifecycle frozen coarse-centroid table"),
      spark.read.parquet(s"$mDir/books"))
    for (i <- 0 until nShards)
      ProductQuantizer.ivfPqEncodeWith(
          sliceOf(base, i), "vec_id", "embedding", HouseM, coarse0, books0)
        .write.mode("overwrite").parquet(s"${shardDir(i)}/codes/gen=0")

    // ---- the global retrain + its per-shard fan-out -------------------
    // ONE training job over the full snapshot; each shard's worker then
    // waits for it, round-trips the global models into its own subtree
    // (parquet double round-trip is exact, so every shard's floats are
    // bit-identical to the global ones), and encodes ITS slice of the
    // snapshot — per-shard artifacts self-consistent under one model
    val arrivalsDone = new java.io.File(s"$idx/_ARRIVALS_DONE")
    val globalH = new Handoff(spark, s"$idx/greq",
      g => s"$idx/retrain_g/req=$g/_DONE", "graft-q97lc-global")({
      (reqGen, _) =>
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (!arrivalsDone.exists()) { // harness gate (scaffolding)
          if (System.nanoTime() > deadline)
            throw new IllegalStateException("q97lc global retrain gate")
          Thread.sleep(100)
        }
        val snapshot = (1L to reqGen)
          .flatMap(g => (0 until nShards).map(i =>
            spark.read.parquet(s"${shardDir(i)}/arrived/gen=$g")))
          .foldLeft(base)(_.unionByName(_))
          .localCheckpoint(true)
        LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
          s"$idx/retrain_g/req=$reqGen",
          "q97 lifecycle retrained coarse-centroid table")
        ()
    })
    val shardRetrainH = (0 until nShards).map { i =>
      new Handoff(spark, s"${shardDir(i)}/req",
        g => s"${shardDir(i)}/retrain/req=$g/_RETRAIN_DONE",
        s"graft-q97lc-retrain-s$i")({ (reqGen, _) =>
        val gdir = s"$idx/retrain_g/req=$reqGen"
        val done = new org.apache.hadoop.fs.Path(s"$gdir/_DONE")
        val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (!fs.exists(done)) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"q97lc shard $i timed out waiting for the global retrain")
          Thread.sleep(100)
        }
        val rdir = s"${shardDir(i)}/retrain/req=$reqGen"
        for (part <- Seq("coarse", "books", "base_occ"))
          spark.read.parquet(s"$gdir/$part")
            .write.mode("overwrite").parquet(s"$rdir/$part")
        val (cR, bR) = (LlmOps.modelScaleStamp(
          spark.read.parquet(s"$rdir/coarse"), "q97 lifecycle shard model"),
          spark.read.parquet(s"$rdir/books"))
        ProductQuantizer.ivfPqEncodeWith(
            sliceOf(codeSnapshotRaws(spark, idx, nShards, base, reqGen), i),
            "vec_id", "embedding", HouseM, cR, bR)
          .write.mode("overwrite").parquet(s"$rdir/codes/gen=0")
        ()
      })
    }
    val fms = (0 until nShards).map(i =>
      new FoldMachine(spark, shardDir(i), shardRetrainH(i),
        s"graft-q97lc-fold-s$i", "q97 lifecycle shard model",
        gated = false))

    // global serving pointer: the newest request adopted by ALL shards
    // — Long.MinValue (base) while any shard lags. S pointer reads,
    // shard-count-scale by construction.
    def globalAdopted(): Option[Long] = {
      val m = fms.map(_.adopted().maxOption.getOrElse(Long.MinValue)).min
      if (m > Long.MinValue) Some(m) else None
    }

    def drive(srcDir: String, phase: String): Unit = {
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(srcDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val gen = (0 until nShards)
            .map(i => genDirs(spark, s"${shardDir(i)}/arrived", "gen=")
              .maxOption.getOrElse(0L)).max + 1
          val reads0 = fms.map(_.recordReads())
          val b = batch.select(col("vec_id"), col("embedding"))
            .localCheckpoint(true)
          // 1. per-shard raw persist + maintenance + pointer append
          for (i <- 0 until nShards) {
            sliceOf(b, i).write.mode("overwrite")
              .parquet(s"${shardDir(i)}/arrived/gen=$gen")
            fms(i).maintain(gen)
            val (ptr, _) = fms(i).pointer(mDir)
            val (cF, bF) = fms(i).frozenModels(ptr)
            ProductQuantizer.ivfPqEncodeWith(
                spark.read.parquet(s"${shardDir(i)}/arrived/gen=$gen"),
                "vec_id", "embedding", HouseM, cF, bF)
              .write.mode("overwrite")
              .parquet(s"${shardDir(i)}/append/gen=$gen")
          }
          // 2. the drift gate is GLOBAL (one statistic over the whole
          //    batch against the globally-served model's occupancy)
          val gptr = globalAdopted()
            .map(r => s"$idx/retrain_g/req=$r").getOrElse(mDir)
          val psi = IndexDrift.occupancyPsiFromOccupancies(
              spark.read.parquet(s"$gptr/base_occ"),
              IndexDrift.occupancyOfCodes(
                (0 until nShards)
                  .map(i => codeCols(spark.read
                    .parquet(s"${shardDir(i)}/append/gen=$gen")))
                  .reduce(_.unionByName(_))),
              LlmOps.modelScaleStamp(spark.read.parquet(s"$gptr/coarse"),
                "q97 lifecycle gate coarse table"))
            .select(col("psi")).collect()(0).getDouble(0)
          val fired = psi > 0.75
          val maxAd = globalAdopted().getOrElse(Long.MinValue)
          val pending = globalH.requests().filter(r => r > maxAd && r < gen)
          globalH.rearm(pending)
          val requested = fired && pending.isEmpty
          if (requested) {
            globalH.submit(gen, spark.range(1).select(lit(gen).as("gen")))
            // fan-out: one request record per shard, same id — each
            // shard's FoldMachine sees its own retrainH
            shardRetrainH.foreach(_.submit(gen,
              spark.range(1).select(lit(gen).as("gen"))))
          }
          spark.range(1)
            .select(lit(gen).as("gen"), lit(phase).as("phase"),
              lit(fired).as("retrain_fired"),
              lit(requested).as("retrain_requested"),
              lit((0 until nShards)
                .map(i => fms(i).recordReads() - reads0(i)).max)
                .as("ptr_reads_max"))
            .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // clean (2 files → 2 triggers at filesPerTrigger=1, 1 at 2)
    val cleanDir = s"$idx/src/clean"
    for ((r, i) <- Seq(8, 18).zipWithIndex)
      clean.filter(pmod(col("vec_id"), lit(20)) === r)
        .coalesce(1)
        .write.mode(if (i == 0) "overwrite" else "append").parquet(cleanDir)
    drive(cleanDir, "clean")
    // drift: fires the one global retrain (gated on arrivals done)
    val driftDir = s"$idx/src/drift"
    driftSrc.coalesce(1).write.mode("overwrite").parquet(driftDir)
    drive(driftDir, "drift")
    // gap: a clean arrival the snapshot will NOT cover — the fold's job
    val gapDir = s"$idx/src/gap"
    clean.select((col("vec_id") + lit(2L * idSpan)).as("vec_id"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(gapDir)
    drive(gapDir, "gap")
    arrivalsDone.createNewFile()
    globalH.joinAll()
    shardRetrainH.foreach(_.joinAll())

    def belt(i: Int): Unit = {
      val maxGen = genDirs(spark, s"${shardDir(i)}/arrived", "gen=").max
      var quiet = false
      var rounds = 0
      while (!quiet && rounds < 8) {
        fms(i).joinAll()
        val (req, inflight, adopted) = fms(i).maintain(maxGen + 1)
        quiet = !req && !inflight && !adopted
        rounds += 1
      }
      fms(i).joinAll()
    }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    def listing(shards: Seq[Int]): Set[(String, Long)] =
      shards.flatMap(i => walk(new java.io.File(shardDir(i)))
        .map(f => (f.getPath, f.length()))).toSet

    // serving state at the GLOBAL rule's pointer (base while any shard
    // lags): per-shard base codes + every append — all encoded under
    // the base pointer, since every arrival so far preceded adoption
    def baseServing(): DataFrame = (0 until nShards).map { i =>
      genDirs(spark, s"${shardDir(i)}/append", "gen=")
        .map(g => codeCols(spark.read.parquet(s"${shardDir(i)}/append/gen=$g")))
        .foldLeft(codeCols(spark.read.parquet(s"${shardDir(i)}/codes/gen=0")))(
          _.unionByName(_))
    }.reduce(_.unionByName(_))
    // the mid-window batch serve (r16 verdict #7): the q100 batch ADC
    // shape against the global-rule pointer, issued pre-belt and again
    // inside the mixed window — answers must be row-identical (single
    // consistent pointer; a rule mixing shard 0's retrained codes with
    // lagging shards' base codes would diverge here)
    val batchQs = e.filter(col("vec_id") =!= 0)
      .filter(pmod(col("vec_id"), lit(13)) === 1)
      .orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("qid"), col("embedding"))
      .localCheckpoint(true)
    def batchServe(): (Seq[(Long, Int, Long)], Boolean) = {
      val df = ProductQuantizer.ivfPqTopKBatch(batchQs, "qid",
        "embedding", HouseM, coarse0, books0, baseServing(), "vec_id",
        nProbe = 4, k = 5, knownQ = 8)
      val twoPhase = df.queryExecution.executedPlan.toString
        .contains("partial_topknearest")
      (df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq, twoPhase)
    }
    val (preBeltAnswers, preTwoPhase) = batchServe()

    // THE MIXED WINDOW: shard 0 folds + adopts; shards 1..S-1 hold
    val lagShards = (1 until nShards)
    val lagBefore = listing(lagShards)
    belt(0)
    val shard0Adopted = fms(0).adopted().nonEmpty
    val shard1Untouched = listing(lagShards) == lagBefore
    // global rule must keep serving the base pointer while others lag
    val mixedWindowServesOld = globalAdopted().isEmpty
    val (midWindowAnswers, midTwoPhase) = batchServe()
    val midwindowBatchUnchanged =
      preBeltAnswers == midWindowAnswers && preBeltAnswers.nonEmpty
    lagShards.foreach(belt)
    val allAdopted = globalAdopted()
    // the cross-shard close: the global request record is subsumed only
    // when EVERY shard's switch log carries the adoption
    allAdopted.foreach(r =>
      globalH.requests().filter(_ <= r).foreach(globalH.sweepRequest))

    // post: a clean arrival on the retrained pointers, quiet per shard
    val postDir = s"$idx/src/post"
    clean.select((col("vec_id") + lit(3L * idSpan)).as("vec_id"),
        col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(postDir)
    drive(postDir, "post")

    // ---- serving, derived per shard from the per-shard records --------
    val rr = allAdopted.getOrElse(
      throw new IllegalStateException("q97lc: shards never all adopted"))
    val shardServing = (0 until nShards).map { i =>
      val (ptr, folded) = fms(i).pointer(mDir)
      require(ptr != mDir, s"q97lc: shard $i pointer never flipped")
      val folds = genDirs(spark, s"$ptr/fold", "gen=")
        .map(g => codeCols(spark.read.parquet(s"$ptr/fold/gen=$g")))
      val appends = genDirs(spark, s"${shardDir(i)}/append", "gen=")
        .filter(_ > folded)
        .map(g => codeCols(spark.read.parquet(s"${shardDir(i)}/append/gen=$g")))
      (folds ++ appends)
        .foldLeft(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))(
          _.unionByName(_))
    }
    val serving = shardServing.reduce(_.unionByName(_))
    // one-shot contrast under the GLOBAL retrained model: snapshot
    // codes + a single re-encode of every post-snapshot raw
    val gdir = s"$idx/retrain_g/req=$rr"
    val (cG, bG) = (LlmOps.modelScaleStamp(spark.read.parquet(s"$gdir/coarse"),
      "q97 lifecycle oneshot coarse table"), spark.read.parquet(s"$gdir/books"))
    val lateRaws = (0 until nShards).flatMap(i =>
      genDirs(spark, s"${shardDir(i)}/arrived", "gen=").filter(_ > rr)
        .map(g => spark.read.parquet(s"${shardDir(i)}/arrived/gen=$g")))
    val oneShot = lateRaws.reduceOption(_.unionByName(_))
      .map(raws => codeCols(spark.read.parquet(s"$gdir/codes/gen=0"))
        .unionByName(codeCols(ProductQuantizer.ivfPqEncodeWith(
          raws, "vec_id", "embedding", HouseM, cG, bG))))
      .getOrElse(codeCols(spark.read.parquet(s"$gdir/codes/gen=0")))
    val query = e.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val topk = ProductQuantizer.ivfPqTopK(
      query, "embedding", HouseM, cG, bG, serving, "vec_id",
      nProbe = 4, k = 10)
    val scatter = topk.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject")

    val log = spark.read.parquet(s"$idx/log")
    log.agg(
        count(lit(1)).as("n_triggers"),
        (count(when(col("retrain_fired"), 1)) === 1 &&
          count(when(col("phase") === "drift" && !col("retrain_fired"), 1))
            === 0).as("drift_fires_once"),
        (count(when(col("phase").isin("clean", "gap", "post") &&
          col("retrain_fired"), 1)) === 0).as("clean_quiet"),
        (max(col("ptr_reads_max")) <= 1)
          .as("ptr_reads_bounded_per_shard"))
      .crossJoin(spark.range(1).select(
        lit(shard0Adopted).as("shard0_adopted_first"),
        lit(shard1Untouched).as("shard1_isolated_during_belt"),
        lit(mixedWindowServesOld).as("mixed_window_serves_old"),
        lit(midwindowBatchUnchanged).as("midwindow_batch_unchanged"),
        lit(preTwoPhase && midTwoPhase).as("midwindow_batch_partial_agg"),
        lit(allAdopted.contains(rr)).as("all_shards_adopted"),
        lit(fms.forall(_.adopted() == Seq(rr))).as("adopted_once_each"),
        lit(scatter).as("scatter_gather_plan")))
      .crossJoin(serving.agg(count(lit(1)).as("n_index"),
        (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique")))
      .crossJoin(sameCodeRows(serving, oneShot, "same_as_oneshot"))
      .crossJoin(topk.agg(count(lit(1)).as("n_results")))
      .select(col("n_triggers"), col("drift_fires_once"),
        col("clean_quiet"), col("ptr_reads_bounded_per_shard"),
        col("shard0_adopted_first"), col("shard1_isolated_during_belt"),
        col("mixed_window_serves_old"), col("midwindow_batch_unchanged"),
        col("midwindow_batch_partial_agg"), col("all_shards_adopted"),
        col("adopted_once_each"), col("scatter_gather_plan"),
        col("n_index"), col("ids_unique"), col("same_as_oneshot"),
        col("n_results"))
  }

  /** Base + every arrived generation ≤ reqGen across all shards — the
    * snapshot a global retrain trains on and each shard's worker
    * re-slices for its own snapshot codes. */
  private def codeSnapshotRaws(
      spark: SparkSession, idx: String, nShards: Int, base: DataFrame,
      reqGen: Long): DataFrame =
    (1L to reqGen)
      .flatMap(g => (0 until nShards).map(i =>
        spark.read.parquet(s"$idx/shard=$i/arrived/gen=$g")))
      .foldLeft(base)(_.unionByName(_))
}

/** Emitted once per (touched user, micro-batch); `ver` increases per
  * batch so the converged aggregate is the per-user max-ver row.
  */
private[streaming] case class UserStatsRow(
    user_id: Long, n_events: Long, total_cents: Long, n_types: Long,
    ver: Long)

/** Shared state + transition for the tws per-user stats processors: a
  * tuple ValueState carries (n_events, total_cents, ver); a MapState
  * keyed by event_type carries the distinct-type set (set-union in
  * state instead of a re-scannable list — idempotent under replay of
  * the same type).
  */
private[streaming] trait UserStatsLogic {
  self: org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Long, String), UserStatsRow] =>
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig, ValueState}

  @transient protected var agg: ValueState[(Long, Long, Long)] = _
  @transient protected var types: MapState[String, Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    agg = getHandle.getValueState[(Long, Long, Long)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong),
      TTLConfig.NONE)
    types = getHandle.getMapState[String, Boolean]("types",
      Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, Long, String)],
      timerValues: TimerValues): Iterator[UserStatsRow] = {
    var (n, cents, ver) = if (agg.exists()) agg.get() else (0L, 0L, 0L)
    rows.foreach { case (_, c, t) =>
      n += 1
      cents += c
      if (!types.containsKey(t)) types.updateValue(t, true)
    }
    ver += 1
    agg.update((n, cents, ver))
    Iterator.single(UserStatsRow(key, n, cents, types.keys().size.toLong, ver))
  }
}

/** StatefulProcessor for [[StreamOps.streamUserStatsTws]]. */
private[streaming] class UserStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, String), UserStatsRow] with UserStatsLogic

/** Warm-start variant for [[StreamOps.streamUserStatsBootstrap]]: the
  * initial per-user state (count, cents, distinct types) comes from a
  * BATCH aggregate of the historical corpus, then the stream applies
  * increments on top — the backfill-then-stream continuity pattern
  * (state starts at ver 0; every emission reflects history + stream).
  */
private[streaming] class UserStatsBootstrapProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, (Long, Long, String), UserStatsRow, (Long, Long, Seq[String])]
    with UserStatsLogic {
  override def handleInitialState(
      key: Long, initialState: (Long, Long, Seq[String]),
      timerValues: org.apache.spark.sql.streaming.TimerValues): Unit = {
    agg.update((initialState._1, initialState._2, 0L))
    initialState._3.foreach(t => types.updateValue(t, true))
  }
}
