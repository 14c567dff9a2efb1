package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexDrift, ProductQuantizer}
import graft.operators.ProductQuantizer.HouseM
import graft.queries.LlmOps

/** The pieces every streamed-index query in [[StreamOps]] repeats —
  * fixtures, one-file-per-micro-batch delivery, the
  * `readStream → foreachBatch → processAllAvailable` trigger loop, the
  * manifest/epoch state of a code or tombstone family ([[EpochFamily]]),
  * the bounded delivery-gate wait, the PSI gate, and the final serving
  * reconstruction with its one-shot contrast. A protocol fix lands here
  * once instead of in every query.
  *
  * The queries keep their own decisions: q86's inline adopt-and-fold,
  * q89's [[Handoff]] fold, q90's [[FoldMachine]], q97's per-shard
  * machines. Nothing here branches on which query calls it.
  */
object IndexLifecycle {

  /** Deadline of every delivery-gate and marker wait. */
  val MarkerTimeoutMs: Long = 300000L

  /** Drift threshold of the stored-state PSI gate. */
  private[streaming] val RetrainPsi = 0.75

  /** The embeddings splits the streamed-index queries draw from. The
    * append split holds back the ids ≡ 9 (mod 10) as arrivals; the
    * drift split also holds back ≡ 8 as clean arrivals and derives the
    * drifted batch from the ≡ 9 class, its ids offset by the OBSERVED
    * id span (a hard constant collides once the corpus outgrows it).
    */
  final class Fixture(spark: SparkSession, sfDir: String) {
    private val emb = graft.Tables.load(spark, sfDir, "embeddings")
    private def mod10 = pmod(col("vec_id"), lit(10))
    /** The held-out serving query (vec_id 0). */
    val query: DataFrame =
      emb.filter(col("vec_id") === 0).select(col("embedding")).limit(1)
    val corpus: DataFrame =
      emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    val base: DataFrame = corpus.filter(mod10 =!= 9)
    val arriving: DataFrame = corpus.filter(mod10 === 9)
    val driftBase: DataFrame = corpus.filter(!mod10.isin(8, 9))
    val clean: DataFrame = corpus.filter(mod10 === 8)
    lazy val idSpan: Long =
      corpus.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
    lazy val driftSrc: DataFrame = offset(
      IndexDrift.shifted(arriving, "vec_id", "embedding"), 1)
    /** `n` one-file arrival slices: residues 9 + 10·i mod 10·n, all
      * non-empty from `n` arrivals up. */
    def arrivalSlices(n: Int): Seq[DataFrame] =
      (0 until n).map(i => residue(arriving, 10 * n, 9 + 10 * i))
    /** A fresh-id copy of everything the drift split ever delivers. */
    def mergedCopy: DataFrame =
      driftBase.unionByName(clean).unionByName(driftSrc)
    /** `df` with its ids moved `times` id spans up. */
    def offset(df: DataFrame, times: Long): DataFrame =
      df.select((col("vec_id") + lit(times * idSpan)).as("vec_id"),
        col("embedding"))
  }

  /** Frozen IVF-PQ models read back from a persisted index layout. */
  final case class Models(coarse: DataFrame, books: DataFrame) {
    def encode(df: DataFrame): DataFrame = codeCols(
      ProductQuantizer.ivfPqEncodeWith(
        df, "vec_id", "embedding", HouseM, coarse, books))
    def topK(query: DataFrame, codes: DataFrame): DataFrame =
      ProductQuantizer.ivfPqTopK(query, "embedding", HouseM, coarse, books,
        codes, "vec_id", nProbe = 4, k = 10)
  }

  def models(spark: SparkSession, dir: String, stampMsg: String): Models =
    Models(LlmOps.modelScaleStamp(spark.read.parquet(s"$dir/coarse"), stampMsg),
      spark.read.parquet(s"$dir/books"))

  /** Build the persist-first frozen layout over `base` at `dir` (every
    * stored artifact derives from the READ-BACK frozen floats). */
  def buildFrozen(spark: SparkSession, sfDir: String, base: DataFrame,
      dir: String, stampMsg: String, withOccupancy: Boolean = true): Models = {
    val (coarse, books) =
      LlmOps.buildFrozenIndex(spark, sfDir, base, dir, stampMsg, withOccupancy)
    Models(coarse, books)
  }

  /** The rows of `df` whose vec_id ≡ `r` (mod `m`). */
  def residue(df: DataFrame, m: Int, r: Long): DataFrame =
    df.filter(pmod(col("vec_id"), lit(m)) === r)

  /** The canonical (cell_id, vec_id, codes) projection of stored codes. */
  def codeCols(df: DataFrame): DataFrame =
    df.select(col("cell_id"), col("vec_id"), col("codes"))

  def union(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.map(p => spark.read.parquet(p)).reduce(_.unionByName(_))

  /** Recursively delete local scratch state from a previous run. */
  def wipe(root: String, dirs: String*): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(); ()
    }
    if (dirs.isEmpty) rm(new java.io.File(root))
    else dirs.foreach(d => rm(new java.io.File(s"$root/$d")))
  }

  /** Write `batches` into `dir` as one file each, in order — the
    * one-file-per-micro-batch delivery that makes every trigger count a
    * construction, not a property of the data's partitioning. */
  def writePhase(dir: String, batches: Seq[DataFrame]): String = {
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(dir)
    }
    dir
  }

  /** Stream `srcDir` `filesPerTrigger` files per micro-batch through
    * `body(batch, batchId)` until every file is consumed. */
  def drive(spark: SparkSession, srcDir: String, filesPerTrigger: Int = 1)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id) }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** One per-trigger log row, overwrite-keyed by generation. */
  def logRow(spark: SparkSession, idx: String, gen: Long,
      cols: Column*): Unit =
    spark.range(1).select(lit(gen).as("gen") +: cols: _*)
      .write.mode("overwrite").parquet(s"$idx/log/gen=$gen")

  /** Block until `path` exists (resolved through the Hadoop
    * `FileSystem`, like [[Handoff]]'s done markers), or throw after
    * `timeoutMs` naming `query` and the awaited path. Production
    * callers pass [[MarkerTimeoutMs]]. */
  def awaitMarker(spark: SparkSession, path: String, query: String,
      timeoutMs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!fs.exists(p)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"$query timed out after $timeoutMs ms waiting for $path")
      Thread.sleep(50)
    }
  }

  /** Stored-state drift gate: PSI of `codes`' cell occupancy against the
    * occupancy `modelDir` persisted at build time. */
  def psiFires(spark: SparkSession, modelDir: String, codes: DataFrame,
      coarse: DataFrame): Boolean =
    IndexDrift.occupancyPsiFromOccupancies(
        spark.read.parquet(s"$modelDir/base_occ"),
        IndexDrift.occupancyOfCodes(codes), coarse)
      .select(col("psi")).collect()(0).getDouble(0) > RetrainPsi

  /** The async retrain [[Handoff]] of the retrain family: after
    * `gate(reqGen)`, train over base + the arrived raws up to the
    * firing generation, all read back from storage (persist-then-reread
    * is the one bit-stable handoff for float model training). */
  def retrainHandoff(spark: SparkSession, sfDir: String, idx: String,
      base: DataFrame, label: String, stampMsg: String,
      withOccupancy: Boolean = true)(gate: Long => Unit): Handoff =
    new Handoff(spark, s"$idx/req",
      g => s"$idx/retrain/req=$g/_RETRAIN_DONE", label)({ (reqGen, _) =>
      gate(reqGen)
      val snapshot = (1L to reqGen)
        .map(g => spark.read.parquet(s"$idx/arrived/gen=$g"))
        .foldLeft(base)(_.unionByName(_))
        .localCheckpoint(true)
      LlmOps.buildFrozenIndex(spark, sfDir, snapshot,
        s"$idx/retrain/req=$reqGen", stampMsg, withOccupancy)
      ()
    })

  /** Serving under pointer `ptr`: its snapshot codes, its re-encoded
    * gap folds, and the appends in `(foldedThrough, …]` under
    * `appendRoot` — all encoded under that one pointer's models. */
  def pointerServing(spark: SparkSession, ptr: String, appendRoot: String,
      foldedThrough: Long): DataFrame = {
    val folds = StreamOps.genDirs(spark, s"$ptr/fold", "gen=")
      .map(g => s"$ptr/fold/gen=$g")
    val appends = StreamOps.genDirs(spark, appendRoot, "gen=")
      .filter(_ > foldedThrough).map(g => s"$appendRoot/gen=$g")
    (folds ++ appends).map(p => codeCols(spark.read.parquet(p)))
      .foldLeft(codeCols(spark.read.parquet(s"$ptr/codes/gen=0")))(
        _.unionByName(_))
  }

  /** The one-shot contrast: `ptr`'s snapshot codes plus ONE batch
    * re-encode of every raw in `raws` under `m`. */
  def oneShot(spark: SparkSession, ptr: String, raws: Seq[String],
      m: Models): DataFrame = {
    val snap = codeCols(spark.read.parquet(s"$ptr/codes/gen=0"))
    if (raws.isEmpty) snap else snap.unionByName(m.encode(union(spark, raws)))
  }

  /** One row, one boolean `outCol`: the two code tables are
    * ROW-IDENTICAL — same ids, same cell assignments, same PQ codes
    * (full outer join; a null on either side or any field mismatch
    * counts against). */
  def sameCodeRows(
      streamed: DataFrame, oneShot: DataFrame, outCol: String): DataFrame =
    streamed.select(col("vec_id"), col("cell_id").as("c_s"),
        col("codes").as("k_s"))
      .join(oneShot.select(col("vec_id"), col("cell_id").as("c_b"),
        col("codes").as("k_b")), Seq("vec_id"), "full")
      .agg((count(when(col("c_s").isNull || col("c_b").isNull ||
        col("c_s") =!= col("c_b") || col("k_s") =!= col("k_b"), 1)) === 0)
        .as(outCol))

  /** One row, one boolean `outCol`: both top-10 answers hold 10 rows
    * with the same ids at the same ADC distances. */
  def sameServed(streamed: DataFrame, oneShot: DataFrame,
      outCol: String): DataFrame =
    streamed.select(col("vec_id"), col("adc_dist").as("d_s"))
      .join(oneShot.select(col("vec_id"), col("adc_dist").as("d_b")),
        Seq("vec_id"), "full")
      .agg(((count(lit(1)) === 10) &&
        (count(when(col("d_s").isNull || col("d_b").isNull ||
          col("d_s") =!= col("d_b"), 1)) === 0)).as(outCol))

  /** `n_index` and `ids_unique` of a serving state. */
  def indexStats(serving: DataFrame, nCol: String = "n_index"): DataFrame =
    serving.agg(count(lit(1)).as(nCol),
      (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique"))

  def nResults(served: DataFrame): DataFrame =
    served.agg(count(lit(1)).as("n_results"))
}

/** One epoch-folded directory family under `idx`: live generations
  * `live/gen=N`, folded epochs `epochs/epoch=E`, and the 1-row
  * manifests `manifests/epoch=E` carrying `folded_through` (max epoch
  * wins). Epoch 0 is `epochZero` (the base build), when there is one.
  */
final class EpochFamily(spark: SparkSession, idx: String, live: String,
    epochs: String, manifests: String, epochZero: Option[String]) {

  private def gens(): Seq[Long] = StreamOps.genDirs(spark, s"$idx/$live", "gen=")

  /** The newest adopted epoch — a listing, no record read. */
  def epoch(): Long =
    StreamOps.genDirs(spark, s"$idx/$manifests", "epoch=").maxOption.getOrElse(0L)

  private def foldedThroughAt(ep: Long): Long =
    if (ep == 0L) 0L
    else spark.read.parquet(s"$idx/$manifests/epoch=$ep")
      .select(col("folded_through")).collect()(0).getLong(0)

  /** (epoch, folded_through): one listing and at most one 1-row read. */
  def manifest(): (Long, Long) = { val ep = epoch(); (ep, foldedThroughAt(ep)) }

  def epochDir(ep: Long): Option[String] =
    if (ep == 0L) epochZero.map(z => s"$idx/$z")
    else Some(s"$idx/$epochs/epoch=$ep")

  def genDir(g: Long): String = s"$idx/$live/gen=$g"

  /** Live generations in `(from, to]`. */
  def gensIn(from: Long, to: Long): Seq[String] =
    gens().filter(g => g > from && g <= to).map(genDir)

  /** The serving parts at manifest `at` (default: read it now, once):
    * the epoch, then every unfolded generation in order. */
  def parts(at: (Long, Long) = manifest()): Seq[String] =
    epochDir(at._1).toSeq ++ gensIn(at._2, Long.MaxValue)

  /** Fold: write `data` as the next epoch, then [[publish]] it as
    * covering generations ≤ `gen`. */
  def fold(gen: Long, data: DataFrame, extras: Seq[Column] = Nil): Unit = {
    val ep = epoch()
    data.write.mode("overwrite").parquet(s"$idx/$epochs/epoch=${ep + 1}")
    publish(ep, gen, extras)
  }

  /** The manifest-last PUBLISH half every fold and adoption shares: one
    * 1-row manifest for epoch `prevEpoch + 1` covering generations
    * ≤ `gen` (plus `extras` — purge accounting), then the sweep of the
    * superseded live generations and prior epochs. Idempotent: the
    * manifest is overwrite-keyed and re-sweeping is a no-op, so a
    * replayed fold or adoption republishes coherently; a crash between
    * manifest and sweep leaves garbage, never missing rows.
    */
  def publish(prevEpoch: Long, gen: Long, extras: Seq[Column] = Nil): Unit = {
    spark.range(1)
      .select(lit(prevEpoch + 1).as("epoch") +:
        lit(gen).as("folded_through") +: extras: _*)
      .write.mode("overwrite").parquet(s"$idx/$manifests/epoch=${prevEpoch + 1}")
    gens().filter(_ <= gen).foreach(g => StreamOps.sweepDir(spark, genDir(g)))
    StreamOps.genDirs(spark, s"$idx/$epochs", "epoch=").filter(_ <= prevEpoch)
      .foreach(p => StreamOps.sweepDir(spark, s"$idx/$epochs/epoch=$p"))
  }
}

object EpochFamily {
  /** Code generations `codes/gen=N` folded into `compact/epoch=E`;
    * epoch 0 is the base build `codes/gen=0`. */
  def codes(spark: SparkSession, idx: String): EpochFamily =
    new EpochFamily(spark, idx, "codes", "compact", "manifest", Some("codes/gen=0"))

  /** Tombstone generations `tombs/gen=N` folded into `tepoch/epoch=E`. */
  def tombs(spark: SparkSession, idx: String): EpochFamily =
    new EpochFamily(spark, idx, "tombs", "tepoch", "tmanifest", None)
}
