package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MinHashSignature, SimHash64, RollingHash64, TextFns, VectorFns, WordNgrams, WordShingles}
import graft.operators.{DedupCluster, IndexDrift, KMeans, ProductQuantizer}
import graft.operators.ProductQuantizer.{HouseEvery, HouseM, HouseNProbe}

/** LLM-training-pipeline operators (SURVEY §2.2 Q21–Q26 + north-star
  * extensions): deduplication (exact / fingerprint / MinHash-LSH /
  * SimHash / n-gram Jaccard / embedding cosine), similarity search
  * (brute-force + LSH-bucketed ANN), and text analysis (language ID,
  * quality scoring, token counting, fingerprinting).
  *
  * Every declared query carries a DuckDB oracle: exact operators
  * directly; MinHash-LSH through exact-verified candidates (output ==
  * exact ground truth); SimHash through a DuckDB replica of the hash;
  * ANN through its measured recall contract. Recall/determinism details
  * are additionally asserted in LlmOpsSpec.
  */
object LlmOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Multi-table multiprobe sign-LSH ANN: 8 independent tables of 6 sign
    * bits each (one 48-bit signature, sliced); each query probes its exact
    * bucket plus all 1-bit flips (7 probes x 8 tables). Candidates =
    * vectors sharing any probed bucket; only those are ranked by exact
    * cosine. At billions of vectors the per-table key widens to ~24 bits;
    * the structure (explode tables -> equi-join on (table, key) -> dedup
    * -> rank) is unchanged.
    */
  def annTopK(s: SparkSession, dir: String, k: Int): DataFrame =
    signLshTopK(t(s, dir, "embeddings"), "embedding", k)

  /** The sign-LSH serving shape behind [[annTopK]], parameterized on the
    * vector table `(vec_id, <vecCol>)` so it serves RAW embeddings (q24)
    * and JL-REDUCED vectors (q59) through one implementation. Query =
    * the `vec_id === 0` row; everything else is data.
    */
  private[graft] def signLshTopK(
      vecs: DataFrame, vecCol: String, k: Int,
      nTables: Int = 8, bits: Int = 6): DataFrame = {
    val mask = (1L << bits) - 1
    def tableKey(sig: Column, tbl: Int): Column =
      shiftright(sig, tbl * bits).bitwiseAND(lit(mask))
    val e = vecs
      .withColumn("sig", VectorFns.signBits(col(vecCol), nTables * bits))
    val dataKeys = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col(vecCol),
        explode(array((0 until nTables).map(tbl =>
          struct(lit(tbl).as("t"), tableKey(col("sig"), tbl).as("k"))): _*)).as("tk"))
    val probeCols = for {
      tbl <- 0 until nTables
      flip <- -1 until bits
    } yield {
      val key = tableKey(col("sig"), tbl)
      struct(lit(tbl).as("t"),
        (if (flip < 0) key else key.bitwiseXOR(lit(1L << flip))).as("k"))
    }
    val probes = e.filter(col("vec_id") === 0)
      .select(col(vecCol).as("qv"), explode(array(probeCols: _*)).as("tk"))
    dataKeys
      .join(broadcast(probes), dataKeys("tk") === probes("tk"))
      .select(col("vec_id"),
        round(VectorFns.cosine(col(vecCol), col("qv")), 6).as("sim"))
      .dropDuplicates("vec_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** MinHash-LSH candidate pairs, exact-Jaccard verified (>= `minJ`) —
    * the scale path shared by q23_minhash_lsh and the cluster assignment
    * in q23_dedup_clusters. Output equals the exact ground truth because
    * candidates are verified and the 16x8 band config misses a true
    * J>=0.8 pair with probability < 1e-10.
    */
  /** Per-doc 3-word shingle sets — shared by the batch LSH pipeline and
    * the streaming near-dup verifier.
    */
  private[graft] def shingledDocs(s: SparkSession, dir: String): DataFrame =
    // fanOut: tokenize+shingle is the expensive per-row stage and runs
    // BEFORE the first exchange, so on a one-split input it is a single
    // task however many cores the session has (no-op on an
    // already-parallel scan). r17 rejected this fan-out when the subtree
    // ran twice concurrently (idle cores back-filled); with the r18
    // single materialized pass in minhashVerifiedPairs the concurrency
    // argument is gone and the A/B now favors the fan-out.
    Tables.fanOut(t(s, dir, "documents"))
      .select(col("doc_id"), WordShingles.word_shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact-Jaccard verification of a candidate pair set (doc_a < doc_b):
    * melt the pair to two keyed rows so the shingling subtree runs once,
    * regroup, set-intersect, keep pairs at >= `minJ`. The verify stage
    * every bucketing scheme (batch LSH, streaming LSH state) feeds.
    */
  private[graft] def verifyJaccardPairs(
      s: SparkSession, dir: String, cand: DataFrame, minJ: Double): DataFrame =
    verifyJaccardPairs(shingledDocs(s, dir), cand, minJ)

  /** [[verifyJaccardPairs]] against an explicit shingled corpus
    * `(doc_id, sh)` — the form [[minhashVerifiedPairs]] feeds with its
    * materialized shingle frame so candidates and verification share ONE
    * tokenize/shingle pass.
    */
  private[graft] def verifyJaccardPairs(
      docs: DataFrame, cand: DataFrame, minJ: Double): DataFrame = {
    val melted = cand.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    melted.join(docs, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("doc_b"), col("sh")), ignoreNulls = true).as("sh_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= minJ)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Default over-full-bucket cap: a band bucket with d members emits
    * d(d-1)/2 candidate pairs, so one degenerate band key (all-empty or
    * boilerplate-identical docs) at corpus scale is a quadratic
    * task-killer. 256 members = at most ~32k pairs per bucket — bounded
    * work — while real near-dup buckets (tens of members) are untouched;
    * a true J>=minJ pair dropped with its bucket still has 15 other
    * bands to collide in, so recall loss is negligible (and measured:
    * see LshBucketCapSpec).
    */
  val LshMaxBucket = 256

  /** Postings-list LSH candidate generation over a (doc_id, sh) corpus:
    * ONE shuffle of (band, key, doc_id) — not a self-join, which would
    * shuffle the bucket table twice and recompute the signature subtree
    * for each side — then in-group ordered-pair expansion (sorted list,
    * a before b). Buckets larger than `maxBucket` are dropped BEFORE
    * pair expansion and surfaced as observed metrics
    * (`lsh_buckets_dropped`, `lsh_docs_in_dropped`) readable by any
    * QueryExecutionListener / [[org.apache.spark.sql.Observation]].
    * Known Spark quirk (probed on 4.1, see LshBucketCapSpec): if the cap
    * drops EVERY bucket, AQE's empty-relation propagation erases the
    * CollectMetrics node and the metrics row is lost — acceptable
    * because a real corpus always has surviving buckets, and the
    * result itself is still correct (empty).
    * The collect itself is budgeted (`collect_list_capped`, a native
    * TypedImperativeAggregate): an over-full bucket's aggregation
    * buffer stops at maxBucket+1 elements instead of materializing the
    * whole O(d) id list before the filter — the one non-spilling
    * structure in this plan is now bounded per group at any corpus
    * size. The true bucket size rides a sibling count(*) (`n`), which
    * drives both the drop filter and the metrics; surviving buckets
    * (n <= maxBucket) collect exactly.
    */
  private[graft] def lshCandidatePairs(
      shingled: DataFrame, bands: Int, rows: Int,
      maxBucket: Int = LshMaxBucket,
      obs: Option[Observation] = None): DataFrame = {
    import graft.functions.CappedCollect.collect_list_capped
    val sig = shingled.select(col("doc_id"),
      MinHashSignature.minhash_band_keys(col("sh"), bands, rows).as("bk"))
    val buckets = sig.select(col("doc_id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val grouped = buckets.groupBy(col("band"), col("key"))
      .agg(
        sort_array(collect_list_capped(col("doc_id"), maxBucket)).as("ids"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val metrics = Seq(
      sum(when(col("n") > maxBucket, 1L).otherwise(0L))
        .as("lsh_buckets_dropped"),
      sum(when(col("n") > maxBucket, col("n"))
        .otherwise(0L)).cast("long").as("lsh_docs_in_dropped"))
    val observed = obs match {
      case Some(o) => grouped.observe(o, metrics.head, metrics.tail: _*)
      case None => grouped.observe("lsh_bucket_cap", metrics.head, metrics.tail: _*)
    }
    observed
      .filter(col("n") <= maxBucket)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "doc_a")))
      .select(col("doc_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  def minhashVerifiedPairs(s: SparkSession, dir: String, minJ: Double): DataFrame = {
    // ONE tokenize/shingle pass (r18): the shingled corpus feeds BOTH
    // the LSH candidate side (signatures -> band buckets) and the
    // exact-Jaccard verify join, and Spark cannot share an uncached
    // subtree across the two consumers — without materialization the
    // whole documents-scan -> tokenize -> shingle stage runs twice per
    // query. An EAGER in-job localCheckpoint materializes it once per
    // invocation (guide §5; each call pays its own materialization, so
    // nothing is reused across runs), which at corpus scale halves the
    // most expensive per-row stage of the pipeline.
    // SERIALIZED storage (r18): the shingle arrays held as deserialized
    // heap objects measurably polluted LATER bench entries (block churn
    // + GC pressure elevated the serve belt's solo readings ~0.3 s);
    // MEMORY_AND_DISK_SER keeps the same one-pass materialization at a
    // fraction of the heap.
    val sh = shingledDocs(s, dir).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    verifyJaccardPairs(sh, lshCandidatePairs(sh, bands = 16, rows = 8), minJ)
  }

  /** Hamming-banded candidate pairs over a 64-bit perceptual hash —
    * the image/audio sibling of [[lshCandidatePairs]], with the SAME
    * capped-bucket discipline. `bands` bands of `bandBits` bits each
    * (bands × bandBits ≤ 64): any pair within Hamming ≤ bands−1 differs
    * in at most bands−1 bands, hence matches in ≥ 1 band (pigeonhole),
    * so the band grouping is a COMPLETE candidate generator for that
    * threshold. Shape: ONE shuffle of (band, key, id, hash) — postings
    * lists, not a self-join (a self-join shuffles the hashed table
    * twice AND, with only 2^bandBits distinct keys per band, explodes
    * O(n²/2^bandBits) pairs on a uniform corpus before any verify
    * filter can run). Buckets larger than `maxBucket` are dropped
    * BEFORE pair expansion and surfaced as observed metrics
    * (`hamming_buckets_dropped`, `hamming_docs_in_dropped`): bounded
    * per-task work at any corpus size, and the drop is visible, never
    * silent. Both hashes ride the postings list, so the verifier's
    * bit_count(xor) needs no join back to the corpus.
    */
  private[graft] def hammingBandPairs(
      hashed: DataFrame, idCol: String, hashCol: String,
      bands: Int = 4, bandBits: Int = 16,
      maxBucket: Int = LshMaxBucket,
      obs: Option[Observation] = None): DataFrame = {
    require(bands * bandBits <= 64,
      s"hammingBandPairs: $bands bands x $bandBits bits exceed the 64-bit hash")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val banded = hashed.select(
      struct(col(idCol).as("id"), col(hashCol).as("h")).as("m"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * bandBits)
            .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
    // sort_array orders structs field-by-field, so the postings list is
    // id-ascending and in-group expansion emits each pair once (a < b).
    // collect_list_capped bounds the aggregation buffer at maxBucket+1
    // members for degenerate hot buckets (see lshCandidatePairs); the
    // sibling count(*) carries the true size for the filter + metrics.
    val grouped = banded.groupBy(col("bk"))
      .agg(
        sort_array(graft.functions.CappedCollect
          .collect_list_capped(col("m"), maxBucket)).as("ms"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val metrics = Seq(
      sum(when(col("n") > maxBucket, 1L).otherwise(0L))
        .as("hamming_buckets_dropped"),
      sum(when(col("n") > maxBucket, col("n"))
        .otherwise(0L)).cast("long").as("hamming_docs_in_dropped"))
    val observed = obs match {
      case Some(o) => grouped.observe(o, metrics.head, metrics.tail: _*)
      case None => grouped.observe("hamming_band_cap", metrics.head, metrics.tail: _*)
    }
    observed
      .filter(col("n") <= maxBucket)
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
      .select(col("x.id").as("a"), col("x.h").as("ha"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("y"))
      .select(col("a"), col("y.id").as("b"), col("ha"), col("y.h").as("hb"))
      .dropDuplicates("a", "b")
  }

  /** Input cap for the DECLARED-SMALL-SCALE exact all-pairs forms
    * ([[cosinePairs]], [[Sampling.jlCosinePairs]]): n vectors enumerate
    * n(n-1)/2 pairs, so 2^16 inputs is already ~2.1e9 pairs — beyond it
    * the enumeration is a scale bug, not a data property, and the
    * operator REFUSES (the [[graft.operators.DedupCluster]] stance:
    * throw at the cap instead of silently grinding). Callers that truly
    * want a bigger exact verification pass an explicit override; the
    * scale path is the LSH/IVF bucketing these verifiers feed
    * (q24_ann_lsh / q24_ann_ivf / q59_jl_ann).
    */
  val MaxExactAllPairs: Long = 1L << 16

  /** Enforce [[MaxExactAllPairs]]: one count of the (narrow) input —
    * driver-side, before any pair is enumerated.
    */
  private[graft] def requireSmallExact(
      vecs: DataFrame, op: String, maxExact: Long): Unit = {
    val n = vecs.count()
    require(n <= maxExact,
      s"$op is a declared-small-scale EXACT all-pairs operator: input has " +
        s"$n vectors > cap $maxExact (~${n * (n - 1) / 2} pairs). At scale, " +
        "serve through the bucketed ANN paths (q24_ann_lsh / q24_ann_ivf / " +
        "q59_jl_ann) and use this form only to exact-verify their candidates; " +
        "pass maxExact explicitly to override for a deliberate larger run.")
  }

  /** Stamp a provable row bound on a READ-BACK model table (frozen
    * centroids and the like) for the registry-wide nested-loop guard:
    * require the count ≤ [[MaxExactAllPairs]] LOUDLY — a silently
    * truncating bare `limit` would mis-assign vectors instead of
    * failing — then attach the now-proven bound as a no-op limit. One
    * count of a model-scale table: cheap by definition.
    */
  private[graft] def modelScaleStamp(df: DataFrame, what: String): DataFrame = {
    val n = df.count()
    require(n <= MaxExactAllPairs,
      s"$what has $n rows > ${MaxExactAllPairs}: not a model-scale table — " +
        "broadcasting it would not be safe; re-shard the model or raise the " +
        "bound deliberately")
    df.limit(MaxExactAllPairs.toInt)
  }

  /** Exact cosine near-dup pairs over the embeddings table (all pairs
    * with round(cosine, 6) >= minCos, a < b). One side broadcast, pairs
    * enumerated by the `<` join, and the dot product computed per pair
    * by the codegen'd in-order fold ([[graft.functions.DotF]]) — the
    * same deterministic arithmetic q24_cosine_topk hash-matches with.
    * This replaced an index-explode + equi-join + decimal partial-sum
    * formulation whose pair-key shuffle carried n²·d rows: measured
    * 4 MINUTES vs seconds at sf0.1 — the shuffle, not the flops, was
    * the cost, and the in-order fold is just as deterministic. At
    * 100 TB the all-pairs enumeration is pre-pruned by LSH/IVF
    * bucketing (q24_ann_lsh / q24_ann_ivf); this is the exact verifier
    * they feed — and [[MaxExactAllPairs]] enforces that stance.
    */
  def cosinePairs(
      s: SparkSession, dir: String, minCos: Double,
      maxExact: Long = MaxExactAllPairs): DataFrame = {
    val e = t(s, dir, "embeddings")
    requireSmallExact(e.select("vec_id"), "cosinePairs", maxExact)
    val norms = e.select(col("vec_id"),
      sqrt(VectorFns.normSq(col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    // limit = the cap requireSmallExact just PROVED holds, so it never
    // truncates; it stamps the bound into the plan, making the
    // broadcast side provably tiny for the registry-wide nested-loop
    // guard (WindowGuardSpec.crossViolations) instead of only refused
    // at runtime. Clamped, not .toInt: a deliberate maxExact override
    // above Int.MaxValue must degrade to a no-op limit, never wrap to
    // a garbage cap that silently truncates pairs.
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      .limit(math.min(maxExact, Int.MaxValue.toLong).toInt)
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        VectorFns.dot(col("ea"), col("eb")).as("dot"))
      .join(broadcast(norms.select(col("vec_id").as("vec_a"), col("nrm").as("nrm_a"))), "vec_a")
      .join(broadcast(norms.select(col("vec_id").as("vec_b"), col("nrm").as("nrm_b"))), "vec_b")
      .withColumn("cosine",
        round(col("dot") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cosine") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Trained IVF centroids for the embeddings table: deterministic
    * every-40th-vector init refined by two Lloyd's iterations
    * (operators.KMeans), then MATERIALIZED — the centroid table is the
    * small output of an offline training job, and collecting it keeps the
    * serving plan free of the training subtree (which would otherwise be
    * recomputed per reference).
    *
    * The cell count is CAPPED at `maxCells` (default 256): an uncapped
    * every-40th init grows k linearly with the corpus, which makes the
    * assign pass O(n²/40) — measured 19.6× time at 10× data in the
    * round-8 scale rehearsal — and would eventually produce an
    * unbroadcastable centroid table. With the cap the training pass is
    * n·maxCells, linear in the corpus; maxCells is the
    * probe-selectivity-vs-training-cost knob (production IVF sizes it
    * upward with memory, never with n/40). Below ~10k vectors the cap
    * never binds, so test-SF results are unchanged.
    */
  def ivfCentroids(s: SparkSession, dir: String, data: DataFrame,
      maxCells: Int = 256): DataFrame = {
    val n = data.select("vec_id").count()
    val every = math.max(40L, (n + maxCells - 1) / maxCells).toInt
    val trained = KMeans.fit(data, "vec_id", "embedding",
      KMeans.initEvery(data, "vec_id", "embedding", every), iters = 2)
    s.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
  }

  /** q82 fixture pattern: the 56-bit target SEQUENCE signature for one
    * video asset — a 14x-repeated motif nibble (cross-motif Hamming
    * >= 14 before noise) with the first (id/48 mod 4) of 3 per-motif
    * positions flipped. Noise keys on id/48, not id mod 4: ids sharing
    * a motif inside one mod-3 class are congruent mod 48 (the round-10
    * q72 lesson), so id/48 is what actually VARIES between variants.
    * Simulated over the real id universe: within-motif Hamming <= 3
    * (96 genuinely nonzero pairs at sf0.01), cross-motif >= 12.
    */
  private[graft] def q82Pattern(id: Long): Long = {
    val motif = (id % 16).toInt
    var pattern = 0L
    (0 until 14).foreach { k => pattern |= motif.toLong << (4 * k) }
    (0 until ((id / 48) % 4).toInt).foreach { j =>
      pattern ^= 1L << ((motif * 7 + j * 13) % 56)
    }
    pattern
  }

  /** q82 fixture frame `f`: a real 18x16 P6 image whose dHash carries
    * the 7 pattern bits this frame contributes (bits 7f..7f+6), as a
    * grid-row-0 ±1 luminance-level walk realizing exactly those
    * adjacent-cell comparisons (rows 1-7 constant → dHash bits 8..63
    * are 0, and comparison 8 of row 0 is pinned to 0). `bright` shifts
    * every pixel equally — dHash is exposure-invariant by construction,
    * so brightness variants collide onto the same per-frame hash.
    * Levels stay in [0,16] (simulated), x12 + bright <= 224 < 256: no
    * clamping anywhere, the arithmetic is exact.
    */
  private[graft] def q82Frame(pattern: Long, f: Int, bright: Int): Array[Byte] = {
    val block = ((pattern >> (7 * f)) & 127L).toInt
    val levels = new Array[Int](9)
    var lvl = 8
    levels(0) = lvl
    (0 until 8).foreach { gx =>
      lvl += (if (gx < 7 && ((block >> gx) & 1) != 0) 1 else -1)
      levels(gx + 1) = lvl
    }
    graft.operators.Multimodal.encodePpm(18, 16,
      (x, y, _) =>
        (if (y / 2 == 0) levels(x / 2) else 8) * 12 + bright)
  }

  /** Build and persist the frozen IVF-PQ index layout over `base` at
    * `idxDir` — the persist-first discipline every build site shares
    * (q68 serve, q78/q84 streaming, q81 retrain): coarse centroids,
    * codebooks, base codes (gen=0) encoded with the RE-READ frozen
    * models, and the base cell occupancy the drift trigger reads —
    * i.e. the exact layout [[annMaybeRetrain]]'s precondition names.
    * Returns the frozen (coarse, books) as re-read from storage, so
    * callers encode later batches against bit-identical models.
    *
    * `withOccupancy = false` skips the base_occ pass (one extra scan
    * of the stored base codes + a K-row write) for indexes that will
    * never gate a retrain — lifecycle fixtures (q69/q70/q75/q87).
    * Drift-trigger sites (q78/q81/q84/q86 and the shared q68 serve
    * index, whose base_occ feeds q84_quiet_trigger) keep the default:
    * their base_occ IS the trigger's stored input.
    */
  private[graft] def buildFrozenIndex(
      s: SparkSession, dir: String, base: DataFrame, idxDir: String,
      label: String, withOccupancy: Boolean = true): (DataFrame, DataFrame) = {
    val coarse0 = ivfCentroids(s, dir, base)
    coarse0.write.mode("overwrite").parquet(s"$idxDir/coarse")
    ProductQuantizer.ivfPqTrainBooks(
        base, "vec_id", "embedding", m = HouseM, coarse0, every = HouseEvery, iters = 2)
      .write.mode("overwrite").parquet(s"$idxDir/books")
    val coarseF = modelScaleStamp(s.read.parquet(s"$idxDir/coarse"), label)
    val booksF = s.read.parquet(s"$idxDir/books")
    ProductQuantizer.ivfPqEncodeWith(
        base, "vec_id", "embedding", HouseM, coarseF, booksF)
      .write.mode("overwrite").parquet(s"$idxDir/codes/gen=0")
    if (withOccupancy)
      IndexDrift.occupancyOfCodes(s.read.parquet(s"$idxDir/codes/gen=0"))
        .write.mode("overwrite").parquet(s"$idxDir/base_occ")
    (coarseF, booksF)
  }

  private val serveIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once-per-JVM persisted IVF-PQ index over the full corpus
    * (q68's layout: frozen coarse + codebooks + two code generations),
    * so `q68_ann_serve` times ONLY the serve path. Bench pre-builds it
    * untimed; under Verify the first q68_ann_serve invocation pays the
    * build once and the contract row is build-independent either way.
    * Per-run scratch, not a shared fixture: k-means floats are not
    * bit-stable across executions, but within one JVM the persisted
    * models are frozen — the q68 self-consistency pattern.
    */
  private val adoptFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def wipeDirRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(wipeDirRec)
    f.delete(); ()
  }

  private def copyDirRec(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).toSeq.flatten
        .foreach(c => copyDirRec(c, new java.io.File(dst, c.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Untimed template for `q89_adopt_trigger`: the durable state an
    * ADOPTING trigger observes in the q89 loop — k=3 serving code
    * generations, a completed fold (compact epoch + durable request
    * record + done marker), no manifest yet. Built once per
    * (process, dir) on the shared q68 index models; the timed bench
    * entry resets a working copy from this template with plain
    * filesystem copies (no Spark job) and performs ONE adoption.
    */
  def ensureAdoptFixture(s: SparkSession, dir: String): String =
    adoptFixtureCache.computeIfAbsent(dir, _ => {
      val idx = ensureAnnServeIndex(s, dir)
      val coarseF = modelScaleStamp(s.read.parquet(s"$idx/coarse"),
        "q89_adopt_trigger frozen coarse-centroid table")
      val booksF = s.read.parquet(s"$idx/books")
      val arriving = t(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .filter(pmod(col("vec_id"), lit(10)) === 9)
      val tpl = graft.RunPaths.scratch(
        "graft_q89adopt_tpl_" + graft.RunPaths.keyFor(dir))
      wipeDirRec(new java.io.File(tpl))
      // the k serving generations the adoption will sweep (residues
      // {9,19,29} mod 30 — all non-empty from 3 arrivals up)
      for (i <- 0 until 3)
        ProductQuantizer.ivfPqEncodeWith(
            arriving.filter(pmod(col("vec_id"), lit(30)) === 9 + 10 * i),
            "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$tpl/codes/gen=${i + 1}")
      // the completed fold: one cell-clustered epoch over all three
      (1 to 3).map(g => s.read.parquet(s"$tpl/codes/gen=$g")
          .select(col("cell_id"), col("vec_id"), col("codes")))
        .reduce(_.unionByName(_))
        .repartition(col("cell_id"))
        .write.mode("overwrite").parquet(s"$tpl/compact/epoch=1")
      // the durable fold request + its done marker
      s.range(1)
        .select(lit(3L).as("req_gen"), lit(0L).as("epoch_at_req"),
          lit(0L).as("folded_from"))
        .write.mode("overwrite").parquet(s"$tpl/freq/req=3")
      new java.io.File(s"$tpl/freq/req=3/_FOLD_DONE").createNewFile()
      tpl
    })

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Once-per-(JVM, layout-dir) derivation guard (r14 advice): the
    * ensure*ServeLayout helpers were unsynchronized check-then-write
    * on _SUCCESS, so two concurrent callers in one process could both
    * run the overwrite write into the same directory. computeIfAbsent
    * serializes them exactly the way serveIndexCache serializes the
    * index build itself; the _SUCCESS probe inside keeps the
    * cross-process idempotence the marker provided.
    */
  private def ensureLayout(layoutDir: String)(derive: => Unit): String =
    layoutCache.computeIfAbsent(layoutDir, _ => {
      if (!new java.io.File(s"$layoutDir/_SUCCESS").exists()) derive
      layoutDir
    })

  /** The q95_filtered_serve pre-filter layout, derived once per
    * process beside the shared q68 index: codes with the label column
    * joined on, cell-clustered, label-sorted within partitions so
    * parquet row-group min/max stats prune on the predicate. Bench
    * prewarms it UNTIMED together with the index (review finding:
    * deriving it behind the marker inside the timed body wasted the
    * first of the three samples on layout work the entry's own doc
    * says it excludes); under Verify the single invocation pays it
    * here either way. Returns the layout directory.
    */
  def ensureFilteredServeLayout(s: SparkSession, dir: String): String = {
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/codes_meta") {
      s.read.parquet(s"$idx/codes")
        .select(col("cell_id"), col("vec_id"), col("codes"))
        .join(t(s, dir, "embeddings")
          .select(col("vec_id"), col("label")), "vec_id")
        .repartition(col("cell_id"))
        .sortWithinPartitions(col("cell_id"), col("label"))
        .write.mode("overwrite").parquet(s"$idx/codes_meta")
    }
  }

  /** Per-(label, cell) occupancy statistics beside the q95 layout —
    * the driver-scale input (≤ labels × K rows) the label-aware probe
    * policy walks at serve time. Derived from the codes_meta layout
    * itself (read-back, so the stats can never disagree with the
    * postings they describe) and persisted label-sorted so a
    * one-label read is pushdown-pruned.
    */
  def ensureFilteredOccStats(s: SparkSession, dir: String): String = {
    val metaDir = ensureFilteredServeLayout(s, dir)
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/codes_meta_occ") {
      s.read.parquet(metaDir)
        .groupBy(col("label"), col("cell_id"))
        .agg(count(lit(1)).as("n"))
        .coalesce(1)
        .sortWithinPartitions(col("label"), col("cell_id"))
        .write.mode("overwrite").parquet(s"$idx/codes_meta_occ")
    }
  }

  /** The q96_refine_serve stage-2 layout, derived once per process
    * beside the shared q68 index: the raw vectors range-partitioned and
    * sorted by vec_id, so the refine stage's candidate fetch (an
    * IN-list of ≤ m ids) is a rowgroup-pruned scan — parquet min/max
    * stats on the sort key skip every rowgroup holding none of the
    * candidates. At 100 TB this is the difference between "fetch 40
    * vectors" and "scan 100 TB of floats to find 40 rows".
    */
  def ensureRefineServeLayout(s: SparkSession, dir: String): String = {
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/raw_sorted") {
      t(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
        .repartitionByRange(8, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(s"$idx/raw_sorted")
    }
  }

  /** Width of the id-range buckets the batch-refine fetch layout is
    * partitioned by. Fixed WIDTH, not fixed count, is the scale-correct
    * choice: bucket count grows with the corpus while the buckets a
    * batch's Q·m candidate ids touch stays bounded by Q·m — so the
    * fraction of the raw store a batch refine reads FALLS as the corpus
    * grows, where the r15 full-scan fetch stayed 100%. In production
    * the width is sized so one bucket ≈ one parquet file at target
    * size; the small constant here keeps the pruning FALSIFIABLE at
    * test SF (sf0.1 yields 8 bucket directories).
    */
  val RawBucketWidth = 256L

  /** The q100/q102 batch-refine fetch layout (r16 — the r15 verdict's
    * lead item): raw vectors partitioned into id-range bucket
    * DIRECTORIES (`id_bucket = floor(vec_id / RawBucketWidth)`),
    * id-sorted within each bucket. The r15 batch refine scanned the
    * ENTIRE raw table once per batch — honest and amortized, but the
    * raw table is the 8×-bigger sibling of the codes table, so it was
    * the last data-linear stage in the serve family. Against this
    * layout the candidate fetch is PARTITION-pruned (the q96 rowgroup
    * discipline lifted to file level): only the bucket directories the
    * candidate ids actually touch are listed and read, and within each
    * surviving bucket the id sort keeps rowgroup min/max pruning live.
    */
  def ensureRefineBucketedLayout(s: SparkSession, dir: String): String = {
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/raw_bucketed") {
      t(s, dir, "embeddings")
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
        .withColumn("id_bucket",
          floor(col("vec_id") / lit(RawBucketWidth)))
        .repartition(col("id_bucket"))
        .sortWithinPartitions(col("vec_id"))
        .write.partitionBy("id_bucket").mode("overwrite")
        .parquet(s"$idx/raw_bucketed")
    }
  }

  /** Partition-pruned batch candidate fetch from
    * [[ensureRefineBucketedLayout]]'s layout: collect the DISTINCT
    * id-range buckets the materialized candidate set touches (a
    * driver-scale int list, ≤ min(Q·m, nBuckets) — the batch analogue
    * of q96's ≤ m candidate-id collect) and restrict the scan to those
    * bucket directories with a partition In-list. Returns the fetched
    * frame and whether the filter reached the scan's PartitionFilters
    * — callers plan-REQUIRE it, refusing the full-table read the r15
    * fetch paid.
    *
    * `cands` must be MATERIALIZED (localCheckpoint) by the caller:
    * it is consumed twice (bucket collect + the rerank's candidate
    * broadcast), and materializing once is also what keeps stage 1
    * from executing a second time inside the refine's broadcast.
    */
  /** Per-(session, layout) handle cache for the bucketed fetch reads:
    * a partitioned `spark.read.parquet` re-lists every bucket
    * directory on each invocation, which the r16 profile measured as
    * the dominant cost of the pruned fetch at test scale (the listing
    * grows with bucket count even when the filter prunes the read) —
    * a serving system holds its table handle open instead of
    * re-discovering partitions per query. Safe because the layout is
    * immutable once derived (ensureLayout: derive-once, never
    * rewritten in place).
    */
  // per-SESSION map, keyed on the session object so a recycled identity
  // hash cannot resurrect a stale handle. A WeakHashMap cannot reclaim
  // anything here (each DataFrame value strongly references its
  // session, the weak key), and a discarded newSession() gives no
  // signal, so the map is BOUNDED instead — access-order LRU, the
  // SummaryRewriteRule.planCache shape: a newSession-per-query server
  // pins at most MaxFetchSessions sessions' handles, and an evicted
  // session re-lists its layout once on next use. ONE listener per
  // SparkContext (not per session) clears the whole map when the
  // context stops.
  private type FetchHandles =
    java.util.concurrent.ConcurrentHashMap[String, DataFrame]
  private[graft] val MaxFetchSessions = 16
  private val bucketedDfCache: java.util.Map[SparkSession, FetchHandles] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[SparkSession, FetchHandles](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[SparkSession, FetchHandles]): Boolean =
          size() > MaxFetchSessions
      })
  // contexts whose eviction listener is registered; weak, so a stopped
  // context is not pinned by the registry itself
  private val fetchCacheContexts = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[
      org.apache.spark.SparkContext, java.lang.Boolean]()))

  private[graft] def fetchCacheSessions: Int = bucketedDfCache.size()

  /** Drops every session's handles when the context stops. */
  private[graft] final class FetchCacheEviction
      extends org.apache.spark.scheduler.SparkListener {
    override def onApplicationEnd(
        e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
      bucketedDfCache.clear()
  }

  /** `s`'s handle map, registering the context's eviction listener on
    * first use. get-then-put under the map's lock: the LRU eviction
    * hook is driven by put().
    */
  private def fetchHandles(s: SparkSession): FetchHandles = {
    val sc = s.sparkContext
    if (fetchCacheContexts.add(sc))
      sc.addSparkListener(new FetchCacheEviction)
    bucketedDfCache.synchronized {
      val cached = bucketedDfCache.get(s)
      if (cached != null) cached
      else {
        val fresh = new FetchHandles()
        bucketedDfCache.put(s, fresh)
        fresh
      }
    }
  }

  private[graft] def batchPrunedFetch(
      s: SparkSession, bucketedDir: String, cands: DataFrame,
      idCol: String, maxBuckets: Int): (DataFrame, Boolean) = {
    val buckets = cands
      .select(floor(col(idCol) / lit(RawBucketWidth)).as("__b"))
      .distinct().collect().map(_.getLong(0))
    require(buckets.nonEmpty && buckets.length <= maxBuckets,
      s"batch refine fetch: candidate ids touch ${buckets.length} " +
        s"id buckets — outside (0, $maxBuckets]; the candidate stage " +
        "is broken")
    val handle = fetchHandles(s)
      .computeIfAbsent(bucketedDir, _ => s.read.parquet(bucketedDir))
    val fetched = handle
      .filter(col("id_bucket").isin(buckets.map(Long.box): _*))
    // partition filters are only visible untruncated (memory: plan
    // strings cut at 100 chars by default under Verify's session)
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val plan = fetched.queryExecution.executedPlan.toString
    // Anchor the bucket In-list INSIDE the PartitionFilters bracket
    // (r16 ADVICE: bare ' IN '/'id_bucket' substrings could be
    // satisfied by a data-side Filter on an unpartitioned rewrite,
    // passing the guard on exactly the degraded full-table read it
    // exists to refuse). ≤10 buckets render as In, more as INSET,
    // 1 as EqualTo — all must appear between 'PartitionFilters: ['
    // and its closing bracket with id_bucket as the operand.
    val pruned = raw"PartitionFilters: \[[^\]]*id_bucket[^\]]*(?: IN |INSET|= ${buckets.head})"
      .r.findFirstIn(plan).isDefined
    (fetched.select(col(idCol), col("embedding")), pruned)
  }

  /** The q97_sharded_serve layout, derived once per process beside the
    * shared q68 index: the same codes hash-sharded by vec_id into
    * `shard=` partition directories, cell-clustered within each shard.
    * The shard is a pure partitioning of the postings under the SHARED
    * frozen models, which is what makes sharded serving exactly equal
    * to unsharded serving (same candidate set, same ADC doubles) while
    * buying independent per-shard maintenance — see q97_sharded_index
    * for the proofs.
    */
  def ensureShardedServeLayout(s: SparkSession, dir: String): String = {
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/codes_sharded") {
      s.read.parquet(s"$idx/codes")
        .select(col("cell_id"), col("vec_id"), col("codes"))
        .withColumn("shard", pmod(col("vec_id"), lit(4)).cast("int"))
        .repartition(col("shard"), col("cell_id"))
        .sortWithinPartitions(col("cell_id"))
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$idx/codes_sharded")
    }
  }

  /** The q99_stack_serve layout, derived once per process beside the
    * shared q68 index: the full serving stack's storage — codes
    * carrying the metadata column, hash-sharded by vec_id,
    * cell-clustered and label-sorted within partitions. One layout
    * serves all three layers at once: the shard partitioning (q97),
    * the label pushdown (q95), and the candidate source for the
    * refine stage (q96, which fetches from the sibling `raw_sorted`).
    */
  def ensureStackServeLayout(s: SparkSession, dir: String): String = {
    val idx = ensureAnnServeIndex(s, dir)
    ensureLayout(s"$idx/codes_stack") {
      s.read.parquet(s"$idx/codes")
        .select(col("cell_id"), col("vec_id"), col("codes"))
        .join(t(s, dir, "embeddings")
          .select(col("vec_id"), col("label")), "vec_id")
        .withColumn("shard", pmod(col("vec_id"), lit(4)).cast("int"))
        .repartition(col("shard"), col("cell_id"))
        .sortWithinPartitions(col("cell_id"), col("label"))
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$idx/codes_stack")
    }
  }

  /** Label-aware probe policy for filtered ANN (r14 verdict #4): fixed
    * nProbe starves selective predicates — a cell holds only
    * selectivity·(n/K) matching rows, so 4 probed cells that would
    * yield 4·n/K candidates unfiltered yield 4·s·n/K under a predicate,
    * and recall collapses with s (measured in
    * tools/filtered_recall_audit_r14.json). The cure is to hold the
    * SCANNED-ROW budget constant instead of the cell count: probe
    * cells in query-affinity order, accumulating the predicate's
    * per-cell occupancy (the same K-row statistic q84's drift gate
    * stores), until the rows an unfiltered nProbe0 probe would scan
    * are spent. A selective predicate therefore probes MORE cells at
    * the SAME I/O cost — never fewer matching candidates.
    *
    * Pure function of driver-scale inputs (K occupancy numbers in
    * query-affinity order + the row budget), so the policy is
    * spec-testable without a corpus; ProbePolicySpec pins budget
    * adherence, clamps, and the monotonicity that makes it a cure
    * (sparser occupancy ⇒ more cells).
    */
  def labelAwareNProbe(
      rankedCellOcc: Seq[Long], budgetRows: Long,
      minProbe: Int, maxProbe: Int): Int = {
    require(minProbe >= 1 && maxProbe >= minProbe,
      s"labelAwareNProbe: bad clamp [$minProbe, $maxProbe]")
    var scanned = 0L
    var p = 0
    while (p < rankedCellOcc.size &&
        (p < minProbe || scanned + rankedCellOcc(p) <= budgetRows)) {
      scanned += rankedCellOcc(p)
      p += 1
    }
    math.min(math.max(p, minProbe), maxProbe)
  }

  def ensureAnnServeIndex(s: SparkSession, dir: String): String =
    serveIndexCache.computeIfAbsent(dir, _ => {
      val e = t(s, dir, "embeddings")
      val merged = e.filter(col("vec_id") =!= 0)
      val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val batch = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
      val idx = graft.RunPaths.scratch(
        "graft_q68srv_index_" + graft.RunPaths.keyFor(dir))
      // withOccupancy: q84_quiet_trigger's PSI gate reads base_occ from
      // this shared index — one K-row pass in the untimed build, so the
      // timed trigger pays only what a production trigger pays
      val (coarseF, booksF) = buildFrozenIndex(s, dir, base, idx,
        "q68_ann_serve frozen coarse-centroid table")
      ProductQuantizer.ivfPqEncodeWith(
          batch, "vec_id", "embedding", HouseM, coarseF, booksF)
        .write.mode("overwrite").parquet(s"$idx/codes/gen=1")
      idx
    })

  /** Decide-and-act half of the drift loop — q76/q78 DETECT (PSI
    * trigger), this ACTS. Precondition: a frozen index at `modelIdx`
    * (coarse, books, codes/gen=0, base_occ — the build-time artifacts
    * q68/q78 persist). The append always happens first: the batch is
    * encoded against the frozen models into `branchIdx/codes/gen=1`
    * (O(batch), the q68 path). The trigger then runs from STORED state
    * only (persisted base occupancy vs the generation just written —
    * one K-row aggregate). Quiet: serving state is the frozen models
    * plus both stored generations, byte-identical to the plain append
    * path — the action is a provable no-op. Fired: a new model
    * generation is trained on the merged corpus (persist-first, the
    * q68 self-consistency pattern), the corpus re-encoded under it,
    * and serving switches to the new generation. Returns
    * (coarse, books, codes, retrained).
    *
    * Cost shape at 100 TB: the quiet path stays O(batch) per append;
    * the fired path is a full retrain — which is exactly why the PSI
    * gate exists (RecallRehearsal measured freezing FREE
    * in-distribution and recall collapsing only under drift, so the
    * expensive branch runs only when recall is actually at risk).
    */
  private[graft] def annMaybeRetrain(
      s: SparkSession, dir: String, modelIdx: String, branchIdx: String,
      base: DataFrame, batch: DataFrame,
      threshold: Double = 0.75): (DataFrame, DataFrame, DataFrame, Boolean) = {
    val coarseF = modelScaleStamp(s.read.parquet(s"$modelIdx/coarse"),
      "frozen coarse-centroid table")
    val booksF = s.read.parquet(s"$modelIdx/books")
    ProductQuantizer.ivfPqEncodeWith(
        batch, "vec_id", "embedding", HouseM, coarseF, booksF)
      .write.mode("overwrite").parquet(s"$branchIdx/codes/gen=1")
    // 1-row statistic fetch: the trigger is a driver-scale decision
    val psi = IndexDrift.occupancyPsiFromOccupancies(
        s.read.parquet(s"$modelIdx/base_occ"),
        IndexDrift.occupancyOfCodes(
          s.read.parquet(s"$branchIdx/codes/gen=1")),
        coarseF)
      .select(col("psi")).collect()(0).getDouble(0)
    if (psi <= threshold) {
      val codes = s.read.parquet(s"$modelIdx/codes/gen=0")
        .unionByName(s.read.parquet(s"$branchIdx/codes/gen=1"))
        .select(col("cell_id"), col("vec_id"), col("codes"))
      (coarseF, booksF, codes, false)
    } else {
      val merged = base.select(col("vec_id"), col("embedding"))
        .unionByName(batch.select(col("vec_id"), col("embedding")))
        .localCheckpoint(true)
      // the shared persist-first frozen layout, WITH occupancy: the
      // retrained directory must satisfy this function's OWN
      // precondition (coarse, books, codes/gen=0, base_occ) so the
      // loop can iterate — the NEXT append's trigger reads base_occ
      // from whatever index it is pointed at
      val (coarse2, books2) = buildFrozenIndex(
        s, dir, merged, s"$branchIdx/retrain",
        "retrained coarse-centroid table")
      val codes = s.read.parquet(s"$branchIdx/retrain/codes/gen=0")
        .select(col("cell_id"), col("vec_id"), col("codes"))
      (coarse2, books2, codes, true)
    }
  }

  /** IVF (inverted-file) ANN: vectors are assigned to their nearest
    * k-means cell offline; a query ranks only the vectors in its
    * `nProbe` closest cells. Serving path: broadcast the (small) trained
    * centroid set, assign via argmax cosine, equi-join the probed cells.
    */
  def ivfTopK(s: SparkSession, dir: String, k: Int, nProbe: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val data = e.filter(col("vec_id") =!= 0)
    val cents = ivfCentroids(s, dir, data)
    val assigned = KMeans.assign(data, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // the centroid table is small by construction, so the global window
    // ranking the probe cells is a single tiny partition — not a scale risk
    val probeW = Window.orderBy(col("q_sim").desc, col("cell_id"))
    val probes = cents.crossJoin(broadcast(q))
      .withColumn("q_sim", VectorFns.cosine(col("cv"), col("qv")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbe)
      .select(col("cell_id"), col("qv"))
    assigned.join(broadcast(probes), "cell_id")
      .select(col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** DuckDB SQL fragment: distinct word-3-gram shingle list of `text`. */
  private[queries] val duckShingles =
    """list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |               FOR i IN range(1, greatest(len(w)-1, 1))])""".stripMargin

  /** DuckDB SQL replica of [[graft.functions.SimHash64]] (FNV-1a 64 +
    * murmur finalizer, sign-vote aggregation), built with 64-bit wrap
    * arithmetic on HUGEINT. Validated byte-for-byte against the Scala
    * implementation on the test corpora; lets the (deterministic,
    * pigeonhole-exact) Hamming<=7 pair query carry a true independent
    * oracle instead of a rows-only check.
    */
  private val duckSimHashPairsSql: String = {
    val m64 = "18446744073709551616::HUGEINT"
    // poor-man's let-binding: a 1-element list comprehension
    def let(v: String, value: String, body: String) =
      s"([$body FOR $v IN [$value]][1])"
    // a * b mod 2^64 without overflowing HUGEINT: split a at 2^32
    def mul64(a: String, b: java.math.BigInteger) = {
      val bLo = b.mod(java.math.BigInteger.ONE.shiftLeft(32))
      let("ax", a,
        s"(((ax % 4294967296::HUGEINT) * $b::HUGEINT + " +
          s"((((ax // 4294967296::HUGEINT) * ($bLo::HUGEINT)) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $m64)")
    }
    def xsr33(e: String) = let("xv", e, "xor(xv, xv >> 33)")
    def c64(hex: Long) = new java.math.BigInteger(java.lang.Long.toUnsignedString(hex))
    // FNV-1a over the token's bytes (ASCII corpus; '' filter guards the
    // ascii('')=0 artifact of string_split on an empty token)
    val fnv =
      "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "[CAST(ascii(ch) AS HUGEINT) FOR ch IN string_split(tok, '') IF ch <> '']), " +
        s"(acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT) % $m64)"
    val tokHash =
      xsr33(mul64(xsr33(mul64(xsr33(fnv), c64(0xff51afd7ed558ccdL))), c64(0xc4ceb9fe1a85ec53L)))
    val simExpr =
      "list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1::HUGEINT = 1::HUGEINT THEN 1 ELSE -1 END FOR h IN hs]) > 0 " +
        "THEN (1::HUGEINT << b) ELSE 0::HUGEINT END FOR b IN range(0, 64)])"
    val signed =
      "CAST(CASE WHEN sim >= 9223372036854775808::HUGEINT THEN sim - 18446744073709551616::HUGEINT ELSE sim END AS BIGINT)"
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |hashed AS (SELECT doc_id, [$tokHash FOR tok IN w] AS hs FROM toks),
       |sims AS (SELECT doc_id, $simExpr AS sim FROM hashed),
       |sig AS (SELECT doc_id, coalesce($signed, 0) AS h FROM sims)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.h, b.h)) <= 7
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Exact word-3-gram Jaccard >= 0.8 pairs — ground truth shared by the
    * exact q23_jaccard_pairs and (because its LSH candidates are
    * exact-verified and the 16x8 band config has per-pair miss
    * probability < 1e-10 at J>=0.8) by q23_minhash_lsh.
    */
  // postings-list formulation (same shape as the Spark plan): pair counts
  // come from per-shingle doc lists, so the oracle is linear in Σ df²
  // instead of the all-pairs list_intersect join (which DuckDB grinds
  // through near-single-threaded for tens of minutes at sf0.1). Shared
  // CTE block so the clustering oracle reuses the same pair derivation.
  private val duckPairCtes =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (SELECT doc_id, $duckShingles AS sh FROM d WHERE len(w) >= 3),
       |sz AS (SELECT doc_id, len(sh) AS sz FROM s),
       |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |post AS (SELECT g, list_sort(list(doc_id)) AS ids FROM ex GROUP BY g
       |         HAVING len(list(doc_id)) > 1),
       |e1 AS (SELECT unnest(ids) AS a, ids FROM post),
       |e2 AS (SELECT a, unnest(ids) AS b FROM e1),
       |inter AS (SELECT a AS doc_a, b AS doc_b, count(*) AS n_inter
       |          FROM e2 WHERE a < b GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT doc_a, doc_b,
       |         round(CAST(n_inter AS DOUBLE) /
       |               CAST(za.sz + zb.sz - n_inter AS DOUBLE), 6) AS jaccard
       |  FROM inter JOIN sz za ON za.doc_id = doc_a
       |             JOIN sz zb ON zb.doc_id = doc_b
       |  WHERE CAST(n_inter AS DOUBLE) /
       |        CAST(za.sz + zb.sz - n_inter AS DOUBLE) >= 0.8)""".stripMargin

  private[graft] val duckJaccardPairsSql =
    s"""WITH $duckPairCtes
       |SELECT doc_a, doc_b, jaccard FROM jpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ------------------------------------------------------ exact dedup
    // Hash-groupBy on the full text: the shuffle carries (text, doc_id)
    // once per doc; at scale you'd group by a 128-bit fingerprint instead
    // (q22_dedup_fingerprint) so the shuffle carries 16 bytes, not 500.
    QueryDef(
      "q22_dedup_exact",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
      bench = true),

    // --------------------------------- incremental (cross-batch) dedup
    // The ingestion-time variant of exact dedup: a new batch is deduped
    // against the ALREADY-INGESTED corpus by content fingerprint with a
    // left-anti join — the "never retrain on seen data" gate. Split here
    // is doc_id mod 5 (batch = residue 0, history = rest); in production
    // the history side is the fingerprint column of the corpus table, so
    // the join is fingerprint-to-fingerprint (both sides shuffled by
    // fingerprint hash, or the history side published as a bloom/bucket
    // index — q21_bloom_prune is the pre-filter for exactly this join).
    // In-batch duplicates collapse AFTER the anti join (min doc_id kept),
    // so the op admits both new-vs-history and new-vs-new duplicates.
    QueryDef(
      "q22_dedup_incremental",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
        val batch = d.filter(col("doc_id") % 5 === 0)
        val history = d.filter(col("doc_id") % 5 =!= 0)
        batch.join(history, Seq("fp"), "left_anti")
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_in_batch"))
          .agg(count(lit(1)).as("n_new_docs"),
            sum(col("n_in_batch")).as("n_batch_rows"),
            min(col("keep_id")).as("min_kept"))
      },
      Some("""WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |nw AS (
             |  SELECT fp, min(doc_id) AS keep_id, count(*) AS n_in_batch
             |  FROM d WHERE doc_id % 5 = 0
             |    AND fp NOT IN (SELECT fp FROM d WHERE doc_id % 5 <> 0)
             |  GROUP BY fp)
             |SELECT count(*) AS n_new_docs,
             |  CAST(sum(n_in_batch) AS BIGINT) AS n_batch_rows,
             |  min(keep_id) AS min_kept
             |FROM nw""".stripMargin)),

    // ----------------------------- cross-doc duplicate-passage fraction
    // Corpus-level duplicated-text signal (the cross-document cousin of
    // q25_repetition's within-doc stats): an 8-gram window is
    // "duplicated" when it occurs in more than one document; each doc
    // reports the fraction of its windows that are corpus-duplicated —
    // the passage-overlap score used to drop boilerplate-heavy docs
    // before training. Shape: explode windows once, aggregate distinct-
    // doc counts per window (map-side combine collapses within-doc
    // repeats), broadcast-free join back on the window key, per-doc
    // aggregate. At 100 TB the join key would be xxhash64(window) (8
    // bytes instead of the string, collisions only perturb a heuristic
    // score); kept as exact strings here so the oracle is hash-exact.
    // r17: "occurs in >1 documents" is min(doc_id) ≠ max(doc_id) OVER
    // a window on the gram key — one corpus pass, one exchange; the
    // previous countDistinct aggregate + join-back re-ran the whole
    // tokenize/ngram subtree to build the aggregate side (the
    // q47_self_excise rewrite, same equality argument).
    QueryDef(
      "q22_dup_ngram_frac",
      (s, dir) => {
        val grams = t(s, dir, "documents")
          .select(col("doc_id"), explode(WordNgrams.word_ngrams(col("text"), 8)).as("g"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
        grams
          .withColumn("mn", min(col("doc_id")).over(w))
          .withColumn("mx", max(col("doc_id")).over(w))
          .withColumn("nd", when(col("mn") < col("mx"), 2L).otherwise(1L))
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_windows"),
            count(when(col("nd") > 1, 1)).as("dup_windows"))
          .withColumn("dup_frac",
            round(col("dup_windows").cast("double") /
              col("n_windows").cast("double"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id,
             |             unnest([array_to_string(w[i:i+7], ' ')
             |                     FOR i IN range(1, len(w) - 6)]) AS g
             |      FROM d WHERE len(w) >= 8),
             |df AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY g)
             |SELECT doc_id,
             |  CAST(count(*) AS BIGINT) AS n_windows,
             |  CAST(count(*) FILTER (nd > 1) AS BIGINT) AS dup_windows,
             |  round(CAST(count(*) FILTER (nd > 1) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS dup_frac
             |FROM g JOIN df USING (g)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ------------------------------------- fingerprint dedup (md5 + roll)
    QueryDef(
      "q22_dedup_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"), col("fp"))
          .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // --------------------------------------- exact n-gram Jaccard pairs
    // Scalable formulation: explode distinct shingles -> postings list per
    // shingle (ONE shuffle of (shingle, doc_id); a self-join would shuffle
    // that table twice and recompute the shingle subtree per side) ->
    // in-group ordered-pair expansion -> |A∩B| = pair count -> Jaccard
    // from set sizes. Work is O(Σ df²) over shingles, not O(n²) docs. At
    // 100 TB you'd additionally cap ultra-frequent shingles (they only
    // generate candidate pairs whose Jaccard is then verified anyway —
    // dropping the top-0.1% most common shingles is the standard
    // prefix-filtering refinement).
    QueryDef(
      "q23_jaccard_pairs",
      (s, dir) => {
        // (r18: a fanOut here A/B-measured FLAT — 1.92 vs 1.95 s solo —
        // unlike shingledDocs', so the scan stays unwrapped)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), WordShingles.word_shingles(col("text"), 3).as("sh"))
          .filter(size(col("sh")) > 0)
        // hash each shingle to 64 bits before the shuffle: it carries 8
        // bytes per shingle instead of the string. Distinctness is
        // preserved (a collision would break the oracle hash-match; none
        // on these corpora, and at 2^-64 per pair none expected at any
        // realistic corpus size). The set size rides along as a struct
        // field, so Jaccard needs NO separate size table — one scan, no
        // post-aggregation joins (the struct costs 4 bytes per posting).
        val ex = docs.select(
          struct(col("doc_id"), size(col("sh")).as("sz")).as("d"),
          explode(col("sh")).as("shs"))
          .select(col("d"), xxhash64(col("shs")).as("shingle"))
        ex.groupBy(col("shingle"))
          .agg(sort_array(collect_list(col("d"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
          .select(col("a"),
            explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b"))
          .groupBy(
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
          .agg(count(lit(1)).as("n_inter"))
          .withColumn("jaccard",
            round(col("n_inter").cast("double") /
              (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 6))
          .filter(col("jaccard") >= 0.8)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(duckJaccardPairsSql),
      bench = true),

    // --------------------------------------------- MinHash + LSH near-dup
    // 128-hash signatures, 16 bands x 8 rows (S-curve threshold ≈ 0.71).
    // Candidates from band-bucket self-joins, then exact-Jaccard verify.
    // Approximate (rows-only): recall contract vs q23_jaccard_pairs is
    // asserted in LlmOpsSpec.
    QueryDef(
      "q23_minhash_lsh",
      (s, dir) =>
        minhashVerifiedPairs(s, dir, 0.8).orderBy("doc_a", "doc_b"),
      // Candidates are exact-verified, so false positives are impossible
      // and the only failure mode is a missed band collision (<1e-10 per
      // true pair at this config) — the output equals the exact ground
      // truth, checked against the same oracle as q23_jaccard_pairs.
      Some(duckJaccardPairsSql),
      bench = true),

    // ------------------------------------------------- SimHash near-dup
    // 64-bit SimHash over tokens; Hamming ≤ 7 pairs found EXACTLY by
    // pigeonhole banding: the hash splits into 8 8-bit chunks, and two
    // hashes differing in ≤ 7 bits must agree on at least one chunk
    // (8 differences can't cover 8 chunks with ≤7 flipped bits).
    // Candidates equi-join on (chunk_idx, chunk_value), then exact
    // Hamming verification — same verify-after-bucket shape as MinHash.
    QueryDef(
      "q23_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), SimHash64.simhash64(TextFns.tokens(col("text"))).as("h"))
        val chunks = docs.select(col("doc_id"), col("h"),
          explode(array((0 until 8).map(i =>
            struct(lit(i).as("ci"), shiftright(col("h"), i * 8).bitwiseAND(lit(0xffL)).as("ck"))): _*)).as("c"))
        val cand = chunks.as("x").join(chunks.as("y"),
            col("x.c.ci") === col("y.c.ci") && col("x.c.ck") === col("y.c.ck") &&
            col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.h").as("h_a"), col("y.h").as("h_b"))
          .dropDuplicates("doc_a", "doc_b")
        cand
          .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
          .filter(col("hamming") <= 7)
          .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
          .orderBy("doc_a", "doc_b")
      },
      Some(duckSimHashPairsSql)),

    // --------------------------------------- near-dup cluster assignment
    // The step after pair finding that real dedup pipelines need: group
    // transitively-connected near-dups and keep one doc per group.
    // Edges = MinHash-LSH exact-verified pairs (the scale path); cluster
    // id = min doc_id in the connected component, computed by distributed
    // label propagation (operators/DedupCluster). The DuckDB oracle walks
    // the same graph with a recursive CTE over the exact-Jaccard pairs.
    QueryDef(
      "q23_dedup_clusters",
      (s, dir) => {
        val vertices = t(s, dir, "documents").select(col("doc_id").as("node"))
        val edges = minhashVerifiedPairs(s, dir, 0.8)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        DedupCluster.connectedComponents(vertices, edges)
          .select(col("node").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
           |$duckPairCtes,
           |und AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
           |        UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |reach(node, label) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT u.b, r.label FROM und u JOIN reach r ON r.node = u.a)
           |SELECT node AS doc_id, min(label) AS cluster_id
           |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
      bench = true),

    // ------------------------------------- canonical document selection
    // The step after clustering in a real dedup pipeline: keep ONE
    // representative per near-dup cluster — the longest document, ties
    // broken by smallest doc_id. One aggregation over the cluster
    // assignment joined with per-doc token counts; the argmax is a
    // single max(struct(n_tok, -doc_id)) — lexicographic struct
    // ordering gives "most tokens, then lowest id" with no window, no
    // second shuffle, and exact tie determinism (integer comparisons
    // only). At 100 TB this is one hash aggregate keyed by cluster_id,
    // reusing the clustering output's partitioning.
    QueryDef(
      "q23_canonical_docs",
      (s, dir) => {
        val vertices = t(s, dir, "documents").select(col("doc_id").as("node"))
        val edges = minhashVerifiedPairs(s, dir, 0.8)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val clusters = DedupCluster.connectedComponents(vertices, edges)
        val toks = t(s, dir, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        clusters.join(toks, col("node") === col("doc_id"))
          .groupBy("cluster_id")
          .agg(max(struct(col("n_tok"), (-col("doc_id")).as("neg_id")))
            .as("best"), count(lit(1)).as("n_members"))
          .select(col("cluster_id"),
            (-col("best.neg_id")).as("keep_id"),
            col("best.n_tok").as("n_tokens_kept"), col("n_members"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE
           |$duckPairCtes,
           |und AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
           |        UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |reach(node, label) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT u.b, r.label FROM und u JOIN reach r ON r.node = u.a),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |j AS (SELECT cl.cluster_id, cl.doc_id,
           |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
           |      FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
           |m AS (SELECT cluster_id, max(n_tok) AS best,
           |        count(*) AS n_members FROM j GROUP BY 1)
           |SELECT m.cluster_id, min(j.doc_id) AS keep_id,
           |       m.best AS n_tokens_kept, m.n_members
           |FROM j JOIN m ON j.cluster_id = m.cluster_id AND j.n_tok = m.best
           |GROUP BY m.cluster_id, m.best, m.n_members
           |ORDER BY m.cluster_id""".stripMargin)),

    // ------------------------------------------- leakage-safe train split
    // q28_train_split hashes PER DOCUMENT, so two near-duplicate docs can
    // land on opposite sides of the train/val boundary — the classic
    // eval-contamination leak that dedup-then-split pipelines exist to
    // prevent. This variant assigns the WHOLE near-dup cluster by hashing
    // the cluster id (min doc_id of the connected component): membership
    // stays O(1)-recomputable and append-stable, but duplicates can never
    // straddle splits (asserted as an invariant in LlmOpsSpec too). Scale
    // shape: the clustering is the q23 pipeline (bucketed LSH + verified
    // pairs + large-star/small-star CC); the split itself adds one
    // broadcast-free map over the assignment — no extra shuffle.
    QueryDef(
      "q54_leakage_safe_split",
      (s, dir) => {
        val vertices = t(s, dir, "documents").select(col("doc_id").as("node"))
        val edges = minhashVerifiedPairs(s, dir, 0.8)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val clusters = DedupCluster.connectedComponents(vertices, edges)
          .select(col("node").as("doc_id"), col("cluster_id"))
        val bucket = Sampling.u16(col("cluster_id")) % 100
        clusters
          .select(col("doc_id"), col("cluster_id"),
            when(bucket < 80, "train").when(bucket < 90, "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
           |$duckPairCtes,
           |und AS (SELECT doc_a AS a, doc_b AS b FROM jpairs
           |        UNION ALL SELECT doc_b, doc_a FROM jpairs),
           |reach(node, label) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT u.b, r.label FROM und u JOIN reach r ON r.node = u.a),
           |cl AS (SELECT node AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY node),
           |b AS (SELECT doc_id, cluster_id,
           |  ${Sampling.u16Sql("CAST(cluster_id AS VARCHAR)")} % 100
           |    AS bucket
           |  FROM cl)
           |SELECT doc_id, cluster_id,
           |  CASE WHEN bucket < 80 THEN 'train'
           |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin)),

    // -------------------------------------- incremental near-dup (LSH)
    // The ingestion-time variant of MinHash near-dup (the fuzzy cousin
    // of q22_dedup_incremental): a new batch (doc_id % 5 = 0) is checked
    // against the already-ingested corpus, reporting per batch doc its
    // near-dup partners already present. Shape here: one LSH candidate
    // pass with cross-side filtering BEFORE exact verification. In
    // production the corpus side's (band, key) postings are a STORED
    // index maintained at ingest, so the per-batch cost is the batch's
    // own signatures + an equi-join against the index — proportional to
    // the batch, never the corpus (the same contract the q22 exact
    // variant documents); both sides derive from one table here only
    // because the harness provides a single snapshot.
    QueryDef(
      "q23_neardup_incremental",
      (s, dir) => {
        val isBatchA = col("doc_a") % 5 === 0
        val isBatchB = col("doc_b") % 5 === 0
        val cand = lshCandidatePairs(shingledDocs(s, dir), bands = 16, rows = 8)
          .filter(isBatchA =!= isBatchB)
        verifyJaccardPairs(s, dir, cand, 0.8)
          .select(
            when(isBatchA, col("doc_a")).otherwise(col("doc_b")).as("batch_doc"),
            when(isBatchA, col("doc_b")).otherwise(col("doc_a")).as("corpus_doc"),
            col("jaccard"))
          .groupBy(col("batch_doc"))
          .agg(count(lit(1)).as("n_partners"),
            min(col("corpus_doc")).as("first_partner"),
            max(col("jaccard")).as("max_jaccard"))
          .orderBy("batch_doc")
      },
      Some(s"""WITH $duckPairCtes,
           |cp AS (
           |  SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS batch_doc,
           |         CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS corpus_doc,
           |         jaccard
           |  FROM jpairs
           |  WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0))
           |SELECT batch_doc, CAST(count(*) AS BIGINT) AS n_partners,
           |       min(corpus_doc) AS first_partner,
           |       max(jaccard) AS max_jaccard
           |FROM cp GROUP BY batch_doc ORDER BY batch_doc""".stripMargin)),

    // ------------------------------------------- embedding cosine pairs
    // Exact cosine near-dup: broadcast pair enumeration + codegen'd
    // in-order double fold per pair (DotF) — deterministic because the
    // fold order is fixed, and the oracle computes the identical
    // unnest-order double sum.
    QueryDef(
      "q24_cosine_pairs",
      (s, dir) =>
        cosinePairs(s, dir, 0.4).orderBy("vec_a", "vec_b"),
      Some("""WITH prods AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |         (SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
             |          FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z) AS dot
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
             |norms AS (
             |  SELECT vec_id, sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |                       FROM (SELECT unnest(embedding) AS x) z)) AS nrm
             |  FROM embeddings)
             |SELECT p.vec_a, p.vec_b,
             |       round(p.dot / (na.nrm * nb.nrm), 6) AS cosine
             |FROM prods p
             |JOIN norms na ON p.vec_a = na.vec_id
             |JOIN norms nb ON p.vec_b = nb.vec_id
             |WHERE round(p.dot / (na.nrm * nb.nrm), 6) >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // -------------------------------------- embedding-cosine near-dedup
    // The embedding-space analogue of q23_dedup_clusters: exact cosine
    // pairs above threshold form the duplicate graph, connected
    // components assign every vector a cluster (min vec_id); keep one
    // representative per cluster downstream. Same large-star/small-star
    // componentry as the text path — at 100 TB the edge set comes from
    // the LSH/IVF-pruned verifier instead of the all-pairs join, and the
    // component step is unchanged.
    QueryDef(
      "q24_embed_dedup",
      (s, dir) => {
        val vertices = t(s, dir, "embeddings").select(col("vec_id").as("node"))
        val edges = cosinePairs(s, dir, 0.4)
          .select(col("vec_a").as("a"), col("vec_b").as("b"))
        DedupCluster.connectedComponents(vertices, edges)
          .select(col("node").as("vec_id"), col("cluster_id"))
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE
             |prods AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |         (SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
             |          FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z) AS dot
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
             |norms AS (
             |  SELECT vec_id, sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |                       FROM (SELECT unnest(embedding) AS x) z)) AS nrm
             |  FROM embeddings),
             |cpairs AS (
             |  SELECT p.vec_a, p.vec_b
             |  FROM prods p
             |  JOIN norms na ON p.vec_a = na.vec_id
             |  JOIN norms nb ON p.vec_b = nb.vec_id
             |  WHERE round(p.dot / (na.nrm * nb.nrm), 6) >= 0.4),
             |und AS (SELECT vec_a AS a, vec_b AS b FROM cpairs
             |        UNION ALL SELECT vec_b, vec_a FROM cpairs),
             |reach(node, label) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT u.b, r.label FROM und u JOIN reach r ON r.node = u.a)
             |SELECT node AS vec_id, min(label) AS cluster_id
             |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin)),

    // ------------------------------------------ brute-force cosine top-k
    // Query vector broadcast against the table; zip_with/aggregate dot
    // product inside codegen; TakeOrderedAndProject keeps it a per-
    // partition heap, no global sort.
    QueryDef(
      "q24_cosine_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // vec_id is unique, so limit(1) never drops a row: it stamps
        // the 1-row bound into the plan for the nested-loop guard
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
          .limit(1)
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
      },
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |  round(
             |    (SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE))
             |     FROM (SELECT unnest(e.embedding) AS x, unnest(q.qv) AS y) z)
             |    / (sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |             FROM (SELECT unnest(e.embedding) AS x) z))
             |     * sqrt((SELECT sum(CAST(z.y AS DOUBLE) * CAST(z.y AS DOUBLE))
             |             FROM (SELECT unnest(q.qv) AS y) z))), 6) AS sim
             |FROM embeddings e, q WHERE e.vec_id <> 0
             |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin),
      bench = true),

    // ------------------------------------------------ LSH-bucketed ANN
    // Scale path for top-k: multi-table multiprobe sign-LSH (annTopK
    // below). ANN is inherently approximate, so the declared query emits
    // its measurable contract — result size and recall@10 against the
    // in-query brute-force ranking — which is deterministic for the fixed
    // data + projection seeds and therefore oracle-hashable. The raw
    // ranked list stays available via LlmOps.annTopK (LlmOpsSpec).
    QueryDef(
      "q24_ann_lsh",
      (s, dir) => {
        val ann = annTopK(s, dir, 10)
        val exact = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(
            t(s, dir, "embeddings").filter(col("vec_id") === 0)
              .select(col("embedding").as("qv")).limit(1)))
          .select(col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("qv")), 6).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc)
          .limit(10)
        exact.select(col("vec_id").as("e_id"))
          .join(ann.select(col("vec_id").as("a_id")),
            col("e_id") === col("a_id"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("a_id")).as("n_hit"))
          .select(
            col("n_exact"),
            (col("n_hit").cast("double") / col("n_exact") >= 0.6).as("recall_ok"))
      },
      Some("SELECT CAST(10 AS BIGINT) AS n_exact, true AS recall_ok")),

    // ------------------------------------------------------- IVF ANN
    // The other standard ANN family (ivfTopK above). On unclustered
    // gaussian test vectors IVF recall is structurally ~ nProbe/nCells
    // (there is no cluster structure to exploit), so the oracle-checked
    // contract is the one IVF actually guarantees: exactly k results,
    // every reported sim equal to the true cosine (verified in-query
    // against the brute-force ranking), and the probed cells covering a
    // bounded fraction of the data. Recall itself is measured in
    // LlmOpsSpec and documented, not hash-pinned.
    QueryDef(
      "q24_ann_ivf",
      (s, dir) => {
        val ivf = ivfTopK(s, dir, 10, 4)
        val exact = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(
            t(s, dir, "embeddings").filter(col("vec_id") === 0)
              .select(col("embedding").as("qv")).limit(1)))
          .select(col("vec_id").as("e_id"),
            round(VectorFns.cosine(col("embedding"), col("qv")), 6).as("e_sim"))
        ivf.join(exact, col("vec_id") === col("e_id"))
          .agg(
            count(lit(1)).as("n_results"),
            (count(lit(1)) === 10).as("size_ok"),
            (count(when(col("sim") === col("e_sim"), 1)) === count(lit(1))).as("sims_exact"))
      },
      Some("SELECT CAST(10 AS BIGINT) AS n_results, true AS size_ok, true AS sims_exact")),

    // ------------------------------------------------- IVF centroid training
    // The k-means training job itself (operators.KMeans, 2 Lloyd's
    // iterations): every vector lands in exactly one cell, training keeps
    // at least two distinct cells alive, and centroids keep the embedding
    // dimensionality. Centroid VALUES are floating-point-summation-order
    // dependent, so the oracle pins these structural invariants (all
    // deterministic) rather than coordinates.
    QueryDef(
      "q24_ivf_train",
      (s, dir) => {
        val data = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
        val cents = ivfCentroids(s, dir, data)
        val assigned = KMeans.assign(data, "vec_id", "embedding", cents)
        val a = assigned.agg(
          count(lit(1)).as("n_assigned"),
          (countDistinct(col("cell_id")) >= 2).as("cells_ok"))
        val c = cents.agg(
          (min(size(col("cv"))) === 64 && max(size(col("cv"))) === 64).as("dims_ok"))
        a.crossJoin(c)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_assigned,
             |       true AS cells_ok, true AS dims_ok
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // ------------------------------------------- product quantization
    // PQ codebook training + corpus encode (operators.ProductQuantizer,
    // the HOUSE geometry: m=HouseM subspaces × 64/HouseM dims — r15
    // measured m=16/every=20 at 2.0× the m=8 recall ceiling, see
    // ProductQuantizer.HouseM). Codes are m bigints per vector vs 64
    // floats — the 100 TB story is scanning codes, not vectors.
    // Centroid values are summation-order dependent (like
    // q24_ivf_train), so the oracle pins the deterministic structure:
    // every vector encodes to exactly m in-range codes, ids are
    // globally dense, every codebook entry keeps d/m dims, and all m
    // subspaces stay alive.
    QueryDef(
      "q24_pq_train",
      (s, dir) => {
        val data = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
        val books = ProductQuantizer.train(
          data, "vec_id", "embedding", m = HouseM, every = HouseEvery, iters = 2)
        val codes = ProductQuantizer.encode(data, "vec_id", "embedding", HouseM, books)
        val b = books.agg(
          (min(col("code")) === 0 &&
            max(col("code")) === count(lit(1)) - 1).as("dense_ok"),
          (min(size(col("cv"))) === 64 / HouseM &&
            max(size(col("cv"))) === 64 / HouseM).as("dims_ok"),
          (countDistinct(col("sub_id")) === HouseM).as("subs_ok"))
        codes.agg(
          count(lit(1)).as("n_encoded"),
          (min(size(col("codes"))) === HouseM &&
            max(size(col("codes"))) === HouseM).as("m_ok"))
          .crossJoin(b)
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_encoded, true AS m_ok,
             |       true AS dense_ok, true AS dims_ok, true AS subs_ok
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // ADC top-k search over the PQ codes: the query's lookup table (m·k
    // partial distances) ships as a literal and scoring is the codegen'd
    // LutSumF fold — a pure map over the codes scan, no join, no
    // shuffle; only the top-k exchange moves rows. The query verifies
    // the kernel against an independent join-path re-scoring of the
    // survivors (posexplode codes → broadcast-join the LUT rows → sum),
    // equal within float-reassociation tolerance, plus result-set size
    // and score non-negativity (tolerated at the same epsilon: the
    // expanded ‖q‖²−2q·c+‖c‖² form can cancel to tiny negatives) —
    // all deterministic booleans even though trained centroid values
    // are not bit-stable.
    QueryDef(
      "q24_ann_pq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val data = e.filter(col("vec_id") =!= 0)
        val query = e.filter(col("vec_id") === 0).select(col("embedding"))
        val books = ProductQuantizer.train(
          data, "vec_id", "embedding", m = HouseM, every = HouseEvery, iters = 2)
        val codes = ProductQuantizer.encode(data, "vec_id", "embedding", HouseM, books)
        val lut = ProductQuantizer.lutFor(query, "embedding", HouseM, books)
        val top = ProductQuantizer.adcTopK(codes, "vec_id", lut, 10)

        val qsv = ProductQuantizer.subvectors(
          query.withColumn("__qid", lit(0)), "__qid", "embedding", HouseM)
          .select(col("sub_id"), col("sv").as("qsv"))
        val lutDf = books.join(qsv, "sub_id")
          .select(col("code").as("jcode"),
            (VectorFns.normSq(col("qsv")) -
              lit(2.0) * VectorFns.dot(col("qsv"), col("cv")) +
              VectorFns.normSq(col("cv"))).as("jd"))
        val rescored = top
          .select(col("vec_id"), col("adc_dist"),
            posexplode(col("codes")).as(Seq("pos", "jcode")))
          .join(broadcast(lutDf), "jcode")
          .groupBy(col("vec_id"), col("adc_dist"))
          .agg(sum(col("jd")).as("join_dist"))
        // non-negativity, not order: each LUT entry is a squared
        // subspace distance, so a negative ADC sum means a sign or
        // LUT-indexing bug — falsifiable, where a lag over a window
        // re-sorted by adc_dist was true by construction (round-10
        // self-review finding; the real scoring contract here is
        // kernel_matches_join)
        rescored.agg(
            count(lit(1)).as("n_results"),
            (count(when(abs(col("adc_dist") - col("join_dist")) > 1e-9, 1)) === 0)
              .as("kernel_matches_join"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n_results,
             |       true AS kernel_matches_join,
             |       true AS nonneg_ok""".stripMargin)),

    // IVF-PQ: coarse k-means cells + PQ over RESIDUALS + per-cell query
    // LUTs (operators.ProductQuantizer.ivfPq*) — the billion-scale ANN
    // composition: the serving scan touches only probed cells' codes and
    // never a raw vector. Contract (all deterministic booleans): k
    // results, drawn from ≤ nProbe cells, finite non-negative scores.
    // Recall and the LUT-vs-kernel scoring equivalence are asserted on
    // clustered fixtures in ProductQuantizerSpec.
    QueryDef(
      "q24_ann_ivfpq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val data = e.filter(col("vec_id") =!= 0)
        val query = e.filter(col("vec_id") === 0).select(col("embedding"))
        val coarse = ivfCentroids(s, dir, data)
        val (codes, books) = ProductQuantizer.ivfPqEncode(
          data, "vec_id", "embedding", m = HouseM, coarse, every = HouseEvery, iters = 2)
        val top = ProductQuantizer.ivfPqTopK(
          query, "embedding", HouseM, coarse, books, codes, "vec_id", nProbe = 4, k = 10)
        // nonneg_ok replaces a lag-over-resorted-window order check that
        // was true by construction (round-10 self-review finding): ADC
        // sums of squared residual distances must be ≥ 0
        top.agg(
            count(lit(1)).as("n_results"),
            (countDistinct(col("cell_id")) <= 4).as("cells_ok"),
            (count(when(col("adc_dist").isNull || isnan(col("adc_dist")), 1)) === 0)
              .as("finite_ok"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n_results, true AS cells_ok,
             |       true AS finite_ok, true AS nonneg_ok""".stripMargin)),

    // --------------------------------- incremental ANN index maintenance
    // The 100 TB ANN reality is a PERSISTED index maintained on append,
    // not retrained inside every query (the stance q22/q23 already take
    // for incremental dedup). Build: train coarse centroids + residual
    // codebooks on the BASE corpus (vec_id % 10 <> 9), encode, persist
    // models and codes as parquet. Maintain: read the FROZEN models
    // back, assign the new batch (vec_id % 10 = 9) to frozen cells,
    // PQ-encode with frozen codebooks (ProductQuantizer.ivfPqEncodeWith
    // — no training pass), write the batch codes as a second index
    // generation: O(batch) work. Serve: IVF-PQ top-k over the UNIONED
    // stored generations, reading only persisted state. Contracts (one
    // row, all deterministic): the stored index covers base + batch
    // exactly; re-deriving the batch codes from the read-back frozen
    // models matches the stored generation exactly (persistence
    // roundtrip + deterministic encode); serving returns k results; and
    // the incremental index's exact-top-10 hit count stays within 2 of
    // a FROM-SCRATCH index trained on the merged corpus (slack because
    // k-means centroid floats are summation-order dependent, see
    // q24_ivf_train — the structural claim "appending to frozen models
    // does not collapse recall" survives that jitter).
    QueryDef(
      "q68_ann_incremental",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val merged = e.filter(col("vec_id") =!= 0)
        val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
        val batch = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
        val idx = graft.RunPaths.scratch(
          "graft_q68_index_" + graft.RunPaths.keyFor(dir))
        // offline build on the base corpus: the shared persist-first
        // frozen layout (models persisted FIRST, base codes encoded
        // from the READ-BACK frozen floats — every stored artifact is
        // self-consistent even though k-means averaging is not
        // bit-stable across executions)
        val (coarseF, booksF) = buildFrozenIndex(s, dir, base, idx,
          "q68 frozen coarse-centroid table", withOccupancy = false)
        // incremental append: touches only PERSISTED state + the new
        // batch — never the base vectors
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$idx/codes/gen=1")
        val stored = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val top = ProductQuantizer.ivfPqTopK(
          query, "embedding", HouseM, coarseF, booksF, stored, "vec_id",
          nProbe = 4, k = 10)
        // contracts
        val exact = merged
          .crossJoin(broadcast(query.select(col("embedding").as("qv"))))
          .select(col("vec_id"),
            (VectorFns.normSq(col("embedding")) -
              lit(2.0) * VectorFns.dot(col("embedding"), col("qv")) +
              VectorFns.normSq(col("qv"))).as("d"))
          .orderBy(col("d").asc, col("vec_id").asc)
          .limit(10)
        def hitsOf(t: DataFrame, as: String): DataFrame =
          t.select(col("vec_id").as("t_id"))
            .join(exact.select(col("vec_id").as("x_id")),
              col("t_id") === col("x_id"))
            .agg(count(lit(1)).as(as))
        val coarseS = ivfCentroids(s, dir, merged)
        val (codesS, booksS) = ProductQuantizer.ivfPqEncode(
          merged, "vec_id", "embedding", m = HouseM, coarseS, every = HouseEvery, iters = 2)
        val topS = ProductQuantizer.ivfPqTopK(
          query, "embedding", HouseM, coarseS, booksS, codesS, "vec_id",
          nProbe = 4, k = 10)
        val frozen = s.read.parquet(s"$idx/codes/gen=1")
          .select(col("vec_id"),
            col("cell_id").as("sc"), col("codes").as("scodes"))
          .join(ProductQuantizer.ivfPqEncodeWith(
              batch, "vec_id", "embedding", HouseM, coarseF, booksF)
            .select(col("vec_id"),
              col("cell_id").as("rc"), col("codes").as("rcodes")),
            Seq("vec_id"), "full")
          .agg(count(lit(1)).as("n_batch"),
            (count(when(col("sc").isNull || col("rc").isNull ||
              col("sc") =!= col("rc") ||
              col("scodes") =!= col("rcodes"), 1)) === 0).as("frozen_ok"))
        stored.agg(count(lit(1)).as("n_index"))
          .crossJoin(frozen)
          .crossJoin(top.agg(count(lit(1)).as("n_results")))
          .crossJoin(hitsOf(top, "h_incr"))
          .crossJoin(hitsOf(topS, "h_scratch"))
          .select(col("n_index"), col("n_batch"), col("n_results"),
            col("frozen_ok"),
            (col("h_incr") >= col("h_scratch") - 2).as("recall_parity"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_index,
             |       CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
             |       CAST(10 AS BIGINT) AS n_results,
             |       true AS frozen_ok, true AS recall_parity
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),
      // NOT a bench entry (r11): its runtime is two full trainings plus
      // an exact-baseline comparison — contract scaffolding that buried
      // the numbers an operator cares about. Bench now carries the
      // split costs instead: q68_ann_serve (query path) and
      // q68_ann_append (per-batch maintenance path).

    // Serve-only sibling of q68: top-k over the ALREADY-PERSISTED index
    // — frozen models + stored code generations read back from parquet,
    // zero training in the timed path (Bench pre-builds the index
    // untimed). This is the number the 100 TB design actually cares
    // about round-over-round: q68 itself times two full trainings plus
    // an exact baseline (contract scaffolding, ~10 s), which buried the
    // serve cost it exists to prove cheap. Contracts are
    // model-independent: full top-k, probed cells bounded by nProbe,
    // finite ADC distances, non-decreasing score order.
    QueryDef(
      "q68_ann_serve",
      (s, dir) => {
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val stored = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val top = ProductQuantizer.ivfPqTopK(
          query, "embedding", HouseM, coarseF, booksF, stored, "vec_id",
          nProbe = HouseNProbe, k = 10)
        // contracts are all falsifiable by a broken serve path: a full
        // top-k, probed cells bounded by nProbe, finite ADC sums, and
        // non-negative ADC distances (each LUT entry is a squared
        // residual distance ‖qsv−cv‖² ≥ 0, so a negative sum means a
        // sign/LUT-indexing bug). NOT asserted: output order — a lag
        // over a re-sorted window is true by construction and verifies
        // nothing; serve-order equality is covered by q69/q75's
        // id+distance equality against independently-derived servings.
        top.agg(
            count(lit(1)).as("n_results"),
            (countDistinct(col("cell_id")) <= HouseNProbe).as("cells_ok"),
            (count(when(col("adc_dist").isNull || isnan(col("adc_dist")), 1)) === 0)
              .as("finite_ok"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
      },
      Some("""SELECT CAST(10 AS BIGINT) AS n_results, true AS cells_ok,
             |       true AS finite_ok, true AS nonneg_ok""".stripMargin),
      bench = true),

    // Append-only sibling of q68 — the OTHER number a 100 TB operator
    // pays: per-batch incremental maintenance. The timed path is
    // exactly the steady-state append: read the frozen models back,
    // assign + PQ-encode the arriving batch (no training pass), write
    // one code generation — O(batch) end to end. Written BESIDE the
    // serve index's generations (`append/`, not `codes/`) so repeated
    // appends never perturb q68_ann_serve's corpus. The contract is
    // deterministic equality: the same frozen floats encoded the serve
    // index's gen=1 from the same batch, and ivfPqEncodeWith is
    // deterministic, so the appended codes must match that stored
    // generation row-for-row (also re-proving the persistence
    // roundtrip). Replaces q68_ann_incremental in the bench set (r11):
    // that entry times two intentional full trainings — contract
    // scaffolding, kept under CORRECTNESS only.
    QueryDef(
      "q68_ann_append",
      (s, dir) => {
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val batch = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .filter(pmod(col("vec_id"), lit(10)) === 9)
        val out = s"$idx/append/gen=2"
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(out)
        val appended = s.read.parquet(out).select(col("vec_id"),
          col("cell_id").as("ac"), col("codes").as("acodes"))
        val gen1 = s.read.parquet(s"$idx/codes/gen=1").select(col("vec_id"),
          col("cell_id").as("sc"), col("codes").as("scodes"))
        appended.join(gen1, Seq("vec_id"), "full")
          .agg(count(lit(1)).as("n_batch"),
            (count(when(col("ac").isNull || col("sc").isNull ||
              col("ac") =!= col("sc") ||
              col("acodes") =!= col("scodes"), 1)) === 0)
              .as("append_matches_serve_gen"))
      },
      Some("""SELECT CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_batch,
             |       true AS append_matches_serve_gen
             |FROM embeddings WHERE vec_id <> 0""".stripMargin),
      bench = true),

    // FILTERED ANN (round 14): metadata predicate + vector top-k — the
    // retrieval shape source-restricted / per-domain queries actually
    // run against a vector store ("nearest neighbors WHERE label = L").
    // Two strategies with different scale semantics, both exercised:
    //   - PRE-filter: restrict the codes table to the predicate, then
    //     probe — at 100 TB the codes are cell-partitioned and
    //     min/max-indexed on the metadata column, so the restriction is
    //     a PRUNED SCAN (pushdown plan-asserted here), never a second
    //     index; recall stays at the index's own level regardless of
    //     predicate selectivity.
    //   - POST-filter: probe unfiltered with an oversampled k', then
    //     filter — no storage requirement, but the filtered answers
    //     must survive the all-labels top-k' cut, so selective
    //     predicates starve it. Both paths probe the SAME cells, which
    //     makes post ⊆ pre a THEOREM (a filtered row in post's final
    //     k survived the harsher cut), contract-asserted.
    // Exactness anchor: every filtered row probed over EVERY cell is
    // re-scored by an independent plan (posexplode codes → join
    // ivfPqLutRows → sum — the LUT rows exposed for exactly this) and
    // the two score surfaces must agree per row within
    // float-reassociation tolerance.
    QueryDef(
      "q95_filtered_ann",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 0)
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val lbl = 3
        val idx = graft.RunPaths.scratch(
          "graft_q95_index_" + graft.RunPaths.keyFor(dir))
        val (coarseF, booksF) = buildFrozenIndex(s, dir,
          corpus.select(col("vec_id"), col("embedding")), idx,
          "q95 frozen coarse-centroid table", withOccupancy = false)
        // the stored layout the pre-filter leans on: codes carry the
        // metadata column, cell-clustered and label-sorted within
        // partitions so parquet row-group min/max stats prune on it
        s.read.parquet(s"$idx/codes/gen=0")
          .join(corpus.select(col("vec_id"), col("label")), "vec_id")
          .repartition(col("cell_id"))
          .sortWithinPartitions(col("cell_id"), col("label"))
          .write.mode("overwrite").parquet(s"$idx/codes_meta")
        val stored = s.read.parquet(s"$idx/codes_meta")
        val filtered = stored.filter(col("label") === lbl)
        val plan = filtered.queryExecution.executedPlan.toString
        val pushed = plan.contains("PushedFilters") &&
          plan.contains(s"EqualTo(label,$lbl)")
        require(pushed,
          "q95: the label predicate did not reach the parquet scan — " +
            "the pre-filter strategy degrades to a full codes read")
        val nCells = coarseF.count().toInt
        // pre-filter at the serving probe count; its every-cell variant
        // is the exhaustive reference; post-filter oversamples 4×
        val pre = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, filtered, "vec_id", nProbe = 4, k = 10)
        val exhaustive = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, filtered, "vec_id", nProbe = nCells, k = 10)
        val post = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
            coarseF, booksF, stored, "vec_id", nProbe = 4, k = 40)
          .join(stored.select(col("vec_id"), col("label")), "vec_id")
          .filter(col("label") === lbl)
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
          .limit(10)
        // independent re-scoring of the exhaustive reference: explode
        // the code arrays, join the per-cell LUT rows, sum — a
        // different plan computing the same math. Compared as the
        // COMPLETE per-row score surface within float-reassociation
        // tolerance (the q24_ann_pq precedent), NOT as top-k id sets:
        // the two plans sum the same 8 doubles in different orders,
        // and a set comparison would flap whenever two rows straddle
        // the rank-k boundary by less than a ulp. Stronger anyway —
        // every filtered row's score must agree, not just ten.
        val q = query.select(col("embedding").as("qv"))
        val probesAll = coarseF.crossJoin(broadcast(q))
          .select(col("cell_id"),
            zip_with(col("qv"), col("cv"), (x, c) => x.cast("double") - c)
              .as("qr"))
        val rescoredAll = filtered
          .select(col("vec_id"), col("cell_id"),
            posexplode(col("codes")).as(Seq("pos", "code")))
          .join(ProductQuantizer.ivfPqLutRows(probesAll, HouseM, booksF),
            Seq("cell_id", "code"))
          .groupBy(col("vec_id"))
          .agg(sum(col("d")).as("adc2"))
        val scoredAll = ProductQuantizer.ivfPqScores(query, "embedding", HouseM,
          coarseF, booksF, filtered, "vec_id", nProbe = nCells)
        val exact = scoredAll.select(col("vec_id"), col("adc_dist"))
          .join(rescoredAll, Seq("vec_id"), "full")
          .agg((count(when(col("adc_dist").isNull || col("adc2").isNull ||
            abs(col("adc_dist") - col("adc2")) > 1e-9, 1)) === 0)
            .as("exhaustive_exact"))
        val subset = post.select(col("vec_id")).withColumn("p", lit(1))
          .join(pre.select(col("vec_id")).withColumn("q", lit(1)),
            Seq("vec_id"), "left")
          .agg((count(when(col("q").isNull, 1)) === 0)
            .as("post_subset_of_pre"))
        val labeled = pre
          .join(stored.select(col("vec_id"), col("label")), "vec_id")
          .agg((count(when(col("label") =!= lbl, 1)) === 0)
            .as("pre_all_labeled"))
        corpus.agg(
            count(lit(1)).as("n_corpus"),
            count(when(col("label") === lbl, 1)).as("n_label"))
          .crossJoin(exhaustive.agg(count(lit(1)).as("n_exhaustive")))
          .crossJoin(exact)
          .crossJoin(s.range(1).select(lit(pushed).as("filter_pushed")))
          .crossJoin(labeled)
          .crossJoin(subset)
          .select(col("n_corpus"), col("n_label"), col("n_exhaustive"),
            col("exhaustive_exact"), col("filter_pushed"),
            col("pre_all_labeled"), col("post_subset_of_pre"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_corpus,
             |  CAST(count(CASE WHEN label = 3 THEN 1 END) AS BIGINT)
             |    AS n_label,
             |  CAST(least(10, count(CASE WHEN label = 3 THEN 1 END))
             |    AS BIGINT) AS n_exhaustive,
             |  true AS exhaustive_exact,
             |  true AS filter_pushed,
             |  true AS pre_all_labeled,
             |  true AS post_subset_of_pre
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // Serve-only sibling of q95, benched (the q68_ann_serve split
    // applied to filtered retrieval): the timed path is EXACTLY what a
    // filtered query costs against an already-persisted index — a
    // pushdown-pruned scan of the metadata-carrying codes layout +
    // probe + top-k, zero training and zero layout work. The
    // codes_meta layout lives in ensureFilteredServeLayout (Bench
    // prewarms it UNTIMED alongside the shared q68 index, so no timed
    // sample ever pays the derivation; under Verify the single
    // invocation pays it behind the marker) and is written BESIDE the
    // q68 index, so q68's own entries see an untouched fixture.
    // Contracts are model-independent and falsifiable: the pushdown
    // plan-asserted, every result on-label, probed cells bounded by
    // nProbe, k bounded, ADC sums finite and non-negative.
    QueryDef(
      "q95_filtered_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val lbl = 3
        val metaDir = ensureFilteredServeLayout(s, dir)
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val filtered = s.read.parquet(metaDir).filter(col("label") === lbl)
        val plan = filtered.queryExecution.executedPlan.toString
        val pushed = plan.contains("PushedFilters") &&
          plan.contains(s"EqualTo(label,$lbl)")
        require(pushed,
          "q95_filtered_serve: the label predicate did not reach the " +
            "codes_meta scan")
        val top = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, filtered, "vec_id", nProbe = 4, k = 10)
        top.join(filtered.select(col("vec_id"), col("label")), "vec_id")
          .agg(
            (count(lit(1)) <= 10).as("k_bounded"),
            (count(when(col("label") =!= lbl, 1)) === 0).as("all_labeled"),
            (countDistinct(col("cell_id")) <= 4).as("cells_ok"),
            (count(when(col("adc_dist").isNull || isnan(col("adc_dist")), 1))
              === 0).as("finite_ok"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
          .crossJoin(s.range(1).select(lit(pushed).as("filter_pushed")))
          .select(col("k_bounded"), col("all_labeled"), col("cells_ok"),
            col("finite_ok"), col("nonneg_ok"), col("filter_pushed"))
      },
      Some("""SELECT true AS k_bounded, true AS all_labeled,
             |  true AS cells_ok, true AS finite_ok, true AS nonneg_ok,
             |  true AS filter_pushed""".stripMargin),
      bench = true),

    // THE PROBE POLICY SERVED (round 15): q95_filtered_serve probes a
    // FIXED 4 cells whatever the predicate — which starves selective
    // labels structurally (a probed cell holds only s·n/K matching
    // rows; measured: 0.140 recall at ~1 % selectivity). This entry is
    // the same filtered serve under [[labelAwareNProbe]]: the
    // per-(label, cell) occupancy statistics persisted BESIDE the
    // layout (ensureFilteredOccStats — derived from the postings
    // themselves, label-sorted for a pruned one-label read) are walked
    // in query-affinity order until the rows an unfiltered HouseNProbe
    // probe pays are spent, so a selective label probes MORE cells at
    // the SAME scanned-row budget. Measured beating fixed-nProbe at
    // every selectivity at equal budget (SCALING.md r15 table,
    // tools/filtered_recall_audit_r15.json: 0.928 vs 0.140 at ~1 %).
    // The policy decision itself is driver-side over model-scale
    // inputs (≤ labels·K occupancy rows + K centroids — the same
    // scale as any LUT build); the scan it dispatches is doubly
    // pruned (label equality + probed-cell In-list, both
    // plan-REQUIRED). Budget adherence is contract-asserted from the
    // same stats the decision read.
    QueryDef(
      "q95_policy_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val lbl = 3
        val metaDir = ensureFilteredServeLayout(s, dir)
        val occDir = ensureFilteredOccStats(s, dir)
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        s.conf.set("spark.sql.maxMetadataStringLength", "10000")
        // model-scale driver reads: occupancy stats + centroids + the
        // query vector (the per-query "model", like any LUT build)
        val occAll = s.read.parquet(occDir).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val nCorpus = occAll.map(_._3).sum
        val cents = coarseF.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val nCells = cents.length
        require(nCells > 0 && nCorpus > 0,
          "q95_policy_serve: empty occupancy stats — layout corrupt")
        val budgetRows = HouseNProbe.toLong * nCorpus / nCells
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val qv = query.collect()(0).getSeq[Float](0)
          .map(_.toDouble).toArray
        val occL = occAll.filter(_._1 == lbl)
          .map(t3 => t3._2 -> t3._3).toMap
        val ranked = cents
          .map { case (cid, cv) =>
            (cid, cv.zip(qv).map { case (c, x) => (x - c) * (x - c) }.sum)
          }
          .sortBy { case (cid, d) => (d, cid) }.map(_._1)
        val rankedOcc = ranked.map(c => occL.getOrElse(c, 0L))
        val p = labelAwareNProbe(rankedOcc.toIndexedSeq, budgetRows,
          minProbe = 4, maxProbe = nCells)
        val probedCells = ranked.take(p)
        val rowsSpent = rankedOcc.take(p).sum
        val filtered = s.read.parquet(metaDir)
          .filter(col("label") === lbl &&
            col("cell_id").isin(probedCells.map(Long.box): _*))
        val plan = filtered.queryExecution.executedPlan.toString
        val cellTok =
          if (p == 1) "EqualTo(cell_id" else "In(cell_id"
        val pushed = plan.contains("PushedFilters") &&
          plan.contains(s"EqualTo(label,$lbl)") &&
          plan.contains(cellTok)
        require(pushed,
          "q95_policy_serve: label + probed-cell predicates did not " +
            "reach the codes_meta scan — the policy's pruned read " +
            "degraded to a full codes read")
        val top = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, filtered, "vec_id", nProbe = p, k = 10)
        top.join(filtered.select(col("vec_id"), col("label")), "vec_id")
          .agg(
            (count(lit(1)) <= 10).as("k_bounded"),
            (count(when(col("label") =!= lbl, 1)) === 0).as("all_labeled"),
            (countDistinct(col("cell_id")) <= p).as("cells_ok"),
            (count(when(col("adc_dist").isNull || isnan(col("adc_dist")), 1))
              === 0).as("finite_ok"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
          .crossJoin(s.range(1).select(
            lit(pushed).as("filter_pushed"),
            lit(p >= 4).as("policy_at_least_floor"),
            lit(rowsSpent <= budgetRows || p == 4).as("budget_respected")))
          .select(col("k_bounded"), col("all_labeled"), col("cells_ok"),
            col("finite_ok"), col("nonneg_ok"), col("filter_pushed"),
            col("policy_at_least_floor"), col("budget_respected"))
      },
      Some("""SELECT true AS k_bounded, true AS all_labeled,
             |  true AS cells_ok, true AS finite_ok, true AS nonneg_ok,
             |  true AS filter_pushed, true AS policy_at_least_floor,
             |  true AS budget_respected""".stripMargin),
      bench = true),

    // TWO-STAGE RETRIEVAL (round 14): ADC candidates → exact re-rank —
    // the FAISS-style "refine" stage that buys back the recall the
    // quantizer gave away. Stage 1 scans CODES (~8× smaller than the
    // floats) for a top-m candidate set; stage 2 fetches only those m
    // raw vectors and ranks them by true squared L2. The guarantee is
    // a THEOREM, not a tendency, because every ranking here uses the
    // same total order (distance, vec_id): any exact-top-k member that
    // survives stage 1 outranks every candidate non-member under that
    // order, so it is in the refined top-k — refine recall ≥ ADC
    // recall on EVERY instance. Both theorem halves are
    // contract-asserted against a full brute-force ground truth (the
    // verification-only path — at 100 TB that scan is the offline
    // recall audit, never the serving path; serving costs are under
    // q96_refine_serve).
    QueryDef(
      "q96_ann_refine",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = modelScaleStamp(s.read.parquet(s"$idx/coarse"),
          "q96_ann_refine frozen coarse-centroid table")
        val booksF = s.read.parquet(s"$idx/books")
        val codes = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 0)
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val k = 10
        val m = 40
        // stage 1: ADC top-m candidate set over the probed cells
        val cands = ProductQuantizer.ivfPqScores(query, "embedding", HouseM,
            coarseF, booksF, codes, "vec_id", nProbe = 4)
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
          .limit(m)
          .select(col("vec_id"), col("adc_dist"))
        // stage 2: exact re-rank of the candidates against raw vectors
        val refined = ProductQuantizer.exactRerank(cands,
          corpus.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", query, "embedding", k)
        // ground truth: exact top-k over the whole corpus, same total
        // order (exact_dist, vec_id) as the refine stage
        val q = query.select(col("embedding").as("qv"))
        val exactD = VectorFns.normSq(col("embedding")) -
          lit(2.0) * VectorFns.dot(col("embedding"), col("qv")) +
          VectorFns.normSq(col("qv"))
        val gt = corpus.crossJoin(broadcast(q))
          .select(col("vec_id"), exactD.as("exact_dist"))
          .orderBy(col("exact_dist").asc, col("vec_id").asc)
          .limit(k)
        // ADC's own top-k (the stage-1 answer refine must not lose to)
        val adcK = cands
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
          .limit(k)
        // theorem half 1: every GT member inside the candidate set is
        // in the refined top-k (no survivor is ever dropped)
        val thm1 = gt.join(cands.select(col("vec_id")), Seq("vec_id"),
            "left_semi")
          .join(refined.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .agg((count(lit(1)) === 0).as("gt_cands_refined"))
        // theorem half 2: refined recall ≥ ADC recall, same GT
        val hitsR = refined.select(col("vec_id"))
          .join(gt.select(col("vec_id")), "vec_id")
          .agg(count(lit(1)).as("rh"))
        val hitsA = adcK.select(col("vec_id"))
          .join(gt.select(col("vec_id")), "vec_id")
          .agg(count(lit(1)).as("ah"))
        val thm2 = hitsR.crossJoin(hitsA)
          .select((col("rh") >= col("ah")).as("refine_ge_adc"))
        // exactness anchor: the refine plan's distances agree with an
        // independently-arranged computation (zip_with fold of squared
        // differences vs the norm-expansion form) within
        // float-reassociation tolerance, per row
        val indep = corpus
          .join(broadcast(refined.select(col("vec_id"))), Seq("vec_id"),
            "left_semi")
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            aggregate(
              zip_with(col("embedding"), col("qv"),
                (x, b) => (x.cast("double") - b) * (x.cast("double") - b)),
              lit(0.0), (acc, v) => acc + v).as("d2"))
        val anchor = refined.join(indep, Seq("vec_id"), "full")
          .agg((count(when(col("exact_dist").isNull || col("d2").isNull ||
            abs(col("exact_dist") - col("d2")) > 1e-9, 1)) === 0)
            .as("exact_plan_agrees"))
        corpus.agg(
            count(lit(1)).as("n_corpus"),
            least(lit(10L), count(lit(1))).as("n_results"))
          .crossJoin(cands.agg((count(lit(1)) <= m).as("cand_bounded")))
          .crossJoin(thm1)
          .crossJoin(thm2)
          .crossJoin(anchor)
          .crossJoin(refined.agg(
            (count(when(col("exact_dist").isNull ||
              isnan(col("exact_dist")), 1)) === 0).as("finite_ok")))
          .select(col("n_corpus"), col("n_results"), col("cand_bounded"),
            col("gt_cands_refined"), col("refine_ge_adc"),
            col("exact_plan_agrees"), col("finite_ok"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_corpus,
             |  CAST(least(10, count(*)) AS BIGINT) AS n_results,
             |  true AS cand_bounded, true AS gt_cands_refined,
             |  true AS refine_ge_adc, true AS exact_plan_agrees,
             |  true AS finite_ok
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // Serve-only sibling of q96, benched (the q68_ann_serve split
    // applied to two-stage retrieval): the timed path is EXACTLY what
    // a refined query costs against an already-persisted index — ADC
    // top-m over the codes, a rowgroup-PRUNED fetch of the ≤ m
    // candidate raw vectors (id-sorted layout + an IN-list bracketed
    // by a pushdown-asserted id range), and the exact top-k over those
    // m rows. Zero training, zero layout work (Bench prewarms the
    // raw_sorted layout untimed beside the shared q68 index; under
    // Verify the single invocation pays it behind the marker). The
    // candidate-id collect is an m-row driver fetch, bounded by the
    // stage-1 limit by construction.
    QueryDef(
      "q96_refine_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val rawDir = ensureRefineServeLayout(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val codes = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val cands = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, codes, "vec_id", nProbe = HouseNProbe, k = 40)
        val candIds = cands.select(col("vec_id")).collect()
          .map(_.getLong(0)).toSeq
        require(candIds.nonEmpty && candIds.size <= 40,
          s"q96_refine_serve: stage 1 returned ${candIds.size} candidates " +
            "— outside (0, 40]; the index build is broken")
        // the id-range bracket is the rowgroup pruner (parquet min/max
        // stats on the sort key); the IN-list exactifies within it
        val fetched = s.read.parquet(rawDir)
          .filter(col("vec_id") >= candIds.min &&
            col("vec_id") <= candIds.max &&
            col("vec_id").isin(candIds: _*))
        // default plan-string truncation (100 chars) cuts a 40-id
        // In-list out of "PushedFilters: [...]"; the assert below must
        // see it under ANY session (Verify's minimal builder included)
        s.conf.set("spark.sql.maxMetadataStringLength", "10000")
        val plan = fetched.queryExecution.executedPlan.toString
        // the [min,max] bracket typically spans nearly the whole id
        // space (ANN candidates scatter) — the In-list is what actually
        // exactifies the rowgroup pruning, so it must be REQUIRED in
        // PushedFilters too, not just the range (r14 advice). Catalyst
        // rewrites a 1-element isin to EqualTo, hence the split token.
        val inTok =
          if (candIds.size == 1) "EqualTo(vec_id" else "In(vec_id"
        val pruned = plan.contains("PushedFilters") &&
          plan.contains("GreaterThanOrEqual(vec_id") &&
          plan.contains("LessThanOrEqual(vec_id") &&
          plan.contains(inTok)
        require(pruned,
          "q96_refine_serve: the candidate id range + In-list did not " +
            "reach the raw_sorted scan — stage 2 degrades to a full " +
            "raw-vector read")
        // candidates = the fetched rows' own ids: stage 1 already ran
        // (the collect above); re-using its DataFrame here would run
        // the probe+top-m job a second time inside the semi join
        val refined = ProductQuantizer.exactRerank(
          fetched.select(col("vec_id")), fetched,
          "vec_id", "embedding", query, "embedding", 10)
        refined.agg(
            (count(lit(1)) <= 10).as("k_bounded"),
            (count(when(col("exact_dist").isNull ||
              isnan(col("exact_dist")), 1)) === 0).as("finite_ok"),
            (count(when(col("exact_dist") < -1e-9, 1)) === 0)
              .as("nonneg_ok"))
          .crossJoin(s.range(1).select(
            lit(candIds.size <= 40).as("cand_bounded"),
            lit(pruned).as("fetch_pruned")))
          .select(col("k_bounded"), col("finite_ok"), col("nonneg_ok"),
            col("cand_bounded"), col("fetch_pruned"))
      },
      Some("""SELECT true AS k_bounded, true AS finite_ok,
             |  true AS nonneg_ok, true AS cand_bounded,
             |  true AS fetch_pruned""".stripMargin),
      bench = true),

    // SHARDED INDEX (round 14): the codes hash-sharded by vec_id into
    // independent shard subtrees under SHARED frozen models — the
    // layout a 100 TB index actually ships as. The shard is a pure
    // partitioning of the postings, which yields two properties proven
    // here rather than assumed:
    //   - serving EQUALS unsharded serving exactly (same candidate
    //     set, same ADC doubles — union of shard postings = unsharded
    //     postings under shared models), and the merge is Catalyst's
    //     own scatter-gather: the top-k plans as TakeOrderedAndProject
    //     (per-partition local top-k, driver merges S·k rows), plan-
    //     asserted — NOT a hand-rolled window, which would shuffle
    //     every candidate by shard;
    //   - maintenance is per-shard INDEPENDENT: appending a batch
    //     slice to one shard and compacting that shard's generations
    //     touch ONLY that subtree ((path, size) listing snapshots of
    //     the other shards asserted unchanged — part-file names are
    //     per-job unique, so any rewrite changes the listing), so a
    //     1000-executor rebuild runs S ways parallel with 1/S blast
    //     radius.
    // Model RETRAINS stay global (the q90 fold machinery): per-shard
    // retraining would break score comparability across shards — the
    // same ADC-comparability argument that keeps serving on the old
    // pointer during a fold.
    QueryDef(
      "q97_sharded_index",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 0)
        val base = corpus.filter(pmod(col("vec_id"), lit(10)) =!= 9)
        val batch = corpus.filter(pmod(col("vec_id"), lit(10)) === 9)
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val idx = graft.RunPaths.scratch(
          "graft_q97_index_" + graft.RunPaths.keyFor(dir))
        val (coarseF, booksF) = buildFrozenIndex(s, dir,
          base.select(col("vec_id"), col("embedding")), idx,
          "q97 frozen coarse-centroid table", withOccupancy = false)
        val nShards = 4
        val gen0 = s.read.parquet(s"$idx/codes/gen=0")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        for (i <- 0 until nShards)
          gen0.filter(pmod(col("vec_id"), lit(nShards)) === i)
            .repartition(col("cell_id"))
            .sortWithinPartitions(col("cell_id"))
            .write.mode("overwrite")
            .parquet(s"$idx/sharded/shard=$i/gen=0")
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        def listing(shards: Seq[Int]): Set[(String, Long)] =
          shards.flatMap(i =>
            walk(new java.io.File(s"$idx/sharded/shard=$i"))
              .map(f => (f.getPath, f.length()))).toSet
        val before = listing(Seq(0, 2, 3))
        // append ONLY shard 1's slice of the arriving batch: O(slice)
        // work confined to one shard subtree
        val slice1 = batch.filter(pmod(col("vec_id"), lit(nShards)) === 1)
        ProductQuantizer.ivfPqEncodeWith(
            slice1, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$idx/sharded/shard=1/gen=1")
        val appendIsolated = listing(Seq(0, 2, 3)) == before
        def codesAt(paths: Seq[String]): DataFrame = paths
          .map(p => s.read.parquet(p)
            .select(col("cell_id"), col("vec_id"), col("codes")))
          .reduce(_.unionByName(_))
        val shardedAll = s.read.parquet(s"$idx/sharded")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        // unsharded reference over the identical logical content
        val refAll = codesAt(Seq(s"$idx/codes/gen=0",
          s"$idx/sharded/shard=1/gen=1"))
        def surface(cs: DataFrame): DataFrame =
          ProductQuantizer.ivfPqScores(query, "embedding", HouseM,
            coarseF, booksF, cs, "vec_id", nProbe = 4)
        def surfacesAgree(a: DataFrame, b: DataFrame, as: String): DataFrame =
          a.select(col("vec_id"), col("adc_dist").as("da"))
            .join(b.select(col("vec_id"), col("adc_dist").as("db")),
              Seq("vec_id"), "full")
            .agg((count(when(col("da").isNull || col("db").isNull ||
              abs(col("da") - col("db")) > 1e-9, 1)) === 0).as(as))
        // pre-compact serve surface, MATERIALIZED before the swap: the
        // compaction below rewrites shard 1 in place, and a lazy plan
        // over the sharded tree would otherwise execute against the
        // post-swap listing (stale file-index reads of swept gen dirs,
        // or — worse — eq2 degenerating to post-vs-post)
        val servedSharded = surface(shardedAll).localCheckpoint(true)
        val eq1b = surfacesAgree(servedSharded, surface(refAll), "ok")
          .collect()(0).getBoolean(0)
        val planStr = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
            coarseF, booksF, shardedAll, "vec_id", nProbe = 4, k = 10)
          .queryExecution.executedPlan.toString
        val scatter = planStr.contains("TakeOrderedAndProject")
        require(scatter,
          "q97_sharded_index: the sharded top-k did not plan as " +
            "TakeOrderedAndProject — the scatter-gather merge degraded " +
            "to a global sort")
        // compact ONLY shard 1: its two generations fold into a NEW gen
        // dir INSIDE the shard's own subtree, then the superseded gens
        // are swept — the swap a real shard compaction performs. The
        // epoch lands in-tree precisely so compact_isolated is
        // FALSIFIABLE (r14 advice: the previous out-of-tree location
        // made the other-shard snapshot unchanged by construction)
        codesAt(Seq(s"$idx/sharded/shard=1/gen=0",
            s"$idx/sharded/shard=1/gen=1"))
          .repartition(col("cell_id"))
          .sortWithinPartitions(col("cell_id"))
          .write.mode("overwrite").parquet(s"$idx/sharded/shard=1/gen=2")
        for (g <- 0 to 1)
          wipeDirRec(new java.io.File(s"$idx/sharded/shard=1/gen=$g"))
        val compactIsolated = listing(Seq(0, 2, 3)) == before
        // fresh post-swap read (fresh file index over the swapped tree)
        val afterCompact = s.read.parquet(s"$idx/sharded")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val eq2 = surfacesAgree(surface(afterCompact), servedSharded,
          "compact_serve_identical")
        val cover = afterCompact.agg(
          count(lit(1)).as("n_sharded"),
          (count(lit(1)) === countDistinct(col("vec_id"))).as("ids_unique"))
        corpus.agg(
            count(when(pmod(col("vec_id"), lit(10)) =!= 9, 1)).as("n_base"),
            count(when(pmod(col("vec_id"), lit(10)) === 9 &&
              pmod(col("vec_id"), lit(nShards)) === 1, 1))
              .as("n_shard1_batch"))
          .crossJoin(cover)
          .crossJoin(eq2)
          .crossJoin(s.range(1).select(
            lit(eq1b).as("serve_matches_unsharded"),
            lit(scatter).as("scatter_gather_plan"),
            lit(appendIsolated).as("append_isolated"),
            lit(compactIsolated).as("compact_isolated")))
          .select(col("n_base"), col("n_shard1_batch"), col("n_sharded"),
            col("ids_unique"), col("serve_matches_unsharded"),
            col("compact_serve_identical"), col("scatter_gather_plan"),
            col("append_isolated"), col("compact_isolated"))
      },
      Some("""SELECT
             |  CAST(count(CASE WHEN vec_id % 10 <> 9 THEN 1 END) AS BIGINT)
             |    AS n_base,
             |  CAST(count(CASE WHEN vec_id % 10 = 9 AND vec_id % 4 = 1
             |    THEN 1 END) AS BIGINT) AS n_shard1_batch,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9 THEN 1 END) +
             |    count(CASE WHEN vec_id % 10 = 9 AND vec_id % 4 = 1
             |    THEN 1 END) AS BIGINT) AS n_sharded,
             |  true AS ids_unique, true AS serve_matches_unsharded,
             |  true AS compact_serve_identical, true AS scatter_gather_plan,
             |  true AS append_isolated, true AS compact_isolated
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // Serve-only sibling of q97, benched (the q68_ann_serve split
    // applied to the sharded layout): the timed path is EXACTLY what a
    // query costs against an already-persisted sharded index — probe,
    // ADC over the shard-partitioned codes, and Catalyst's own
    // scatter-gather merge (TakeOrderedAndProject, plan-asserted: k
    // rows per partition to the driver, never a global sort). Benched
    // NEXT TO q68_ann_serve over the same logical content, so the
    // price of the sharded layout is a visible round-over-round number
    // instead of an assumption. Layout prewarmed untimed by Bench
    // beside the shared q68 index.
    QueryDef(
      "q97_sharded_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val shDir = ensureShardedServeLayout(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val sharded = s.read.parquet(shDir)
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val top = ProductQuantizer.ivfPqTopK(query, "embedding", HouseM,
          coarseF, booksF, sharded, "vec_id", nProbe = HouseNProbe, k = 10)
        val planStr = top.queryExecution.executedPlan.toString
        val scatter = planStr.contains("TakeOrderedAndProject")
        require(scatter,
          "q97_sharded_serve: the merge did not plan as " +
            "TakeOrderedAndProject — per-shard local top-k degraded to " +
            "a global sort")
        top.agg(
            (count(lit(1)) <= 10).as("k_bounded"),
            (countDistinct(col("cell_id")) <= HouseNProbe).as("cells_ok"),
            (count(when(col("adc_dist").isNull || isnan(col("adc_dist")), 1))
              === 0).as("finite_ok"),
            (count(when(col("adc_dist") < -1e-9, 1)) === 0).as("nonneg_ok"))
          .crossJoin(s.range(1).select(
            lit(scatter).as("scatter_gather_plan")))
          .select(col("k_bounded"), col("cells_ok"), col("finite_ok"),
            col("nonneg_ok"), col("scatter_gather_plan"))
      },
      Some("""SELECT true AS k_bounded, true AS cells_ok,
             |  true AS finite_ok, true AS nonneg_ok,
             |  true AS scatter_gather_plan""".stripMargin),
      bench = true),

    // THE SERVING STACK COMPOSED (round 14): the production query a
    // 100 TB vector store actually answers — "top-k nearest WHERE
    // label = L, exact-reranked" — with all three round-14 layers on
    // one layout: the SHARD partitioning (q97, independent
    // maintenance), the LABEL pushdown (q95, predicate reaches the
    // pruned scan), and the REFINE stage (q96, exact re-rank of the
    // ≤ m candidates fetched rowgroup-pruned from the id-sorted raw
    // vectors). Timed body = exactly that pipeline against the
    // prewarmed layouts; both pushdowns and the scatter-gather merge
    // are plan-asserted, refusing on any layer silently degrading.
    // The composition THEOREM — the stacked answer is id-for-id
    // identical to the same two stages over q95's unsharded
    // codes_meta layout (same postings, same probes, same doubles,
    // same total order) — is pinned in StackServeSpec rather than
    // recomputed here, so the benched number prices ONE stack, not
    // two.
    QueryDef(
      "q99_stack_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val stackDir = ensureStackServeLayout(s, dir)
        val rawDir = ensureRefineServeLayout(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val query = t(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val lbl = 3
        val filtered = s.read.parquet(stackDir)
          .filter(col("label") === lbl)
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val fplan = filtered.queryExecution.executedPlan.toString
        val labelPushed = fplan.contains("PushedFilters") &&
          fplan.contains(s"EqualTo(label,$lbl)")
        require(labelPushed,
          "q99_stack_serve: the label predicate did not reach the " +
            "codes_stack scan — the filter layer degraded to a full read")
        val cands = ProductQuantizer.ivfPqScores(query, "embedding", HouseM,
            coarseF, booksF, filtered, "vec_id", nProbe = HouseNProbe)
          .orderBy(col("adc_dist").asc, col("vec_id").asc)
          .limit(40)
        val scatter = cands.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject")
        require(scatter,
          "q99_stack_serve: the candidate top-m did not plan as " +
            "TakeOrderedAndProject — the scatter-gather merge degraded")
        val candIds = cands.select(col("vec_id")).collect()
          .map(_.getLong(0)).toSeq
        require(candIds.nonEmpty && candIds.size <= 40,
          s"q99_stack_serve: stage 1 returned ${candIds.size} " +
            "candidates — outside (0, 40]")
        val fetched = s.read.parquet(rawDir)
          .filter(col("vec_id") >= candIds.min &&
            col("vec_id") <= candIds.max &&
            col("vec_id").isin(candIds: _*))
        // see q96_refine_serve: untruncated plan metadata so the
        // In-list is visible to the require under any session config
        s.conf.set("spark.sql.maxMetadataStringLength", "10000")
        val rplan = fetched.queryExecution.executedPlan.toString
        // as in q96_refine_serve: the In-list is the real pruner — the
        // range bracket alone usually spans nearly the whole table
        val rInTok =
          if (candIds.size == 1) "EqualTo(vec_id" else "In(vec_id"
        val fetchPruned = rplan.contains("PushedFilters") &&
          rplan.contains("GreaterThanOrEqual(vec_id") &&
          rplan.contains("LessThanOrEqual(vec_id") &&
          rplan.contains(rInTok)
        require(fetchPruned,
          "q99_stack_serve: the candidate id range + In-list did not " +
            "reach the raw_sorted scan — the refine fetch degraded to " +
            "a full read")
        val refined = ProductQuantizer.exactRerank(
          fetched.select(col("vec_id")), fetched,
          "vec_id", "embedding", query, "embedding", 10)
        refined
          .join(s.read.parquet(stackDir)
            .select(col("vec_id"), col("label")), "vec_id")
          .agg(
            (count(lit(1)) <= 10).as("k_bounded"),
            (count(when(col("label") =!= lbl, 1)) === 0).as("all_labeled"),
            (count(when(col("exact_dist").isNull ||
              isnan(col("exact_dist")), 1)) === 0).as("finite_ok"),
            (count(when(col("exact_dist") < -1e-9, 1)) === 0)
              .as("nonneg_ok"))
          .crossJoin(s.range(1).select(
            lit(labelPushed).as("label_pushed"),
            lit(scatter).as("scatter_gather_plan"),
            lit(fetchPruned).as("fetch_pruned")))
          .select(col("k_bounded"), col("all_labeled"), col("finite_ok"),
            col("nonneg_ok"), col("label_pushed"),
            col("scatter_gather_plan"), col("fetch_pruned"))
      },
      Some("""SELECT true AS k_bounded, true AS all_labeled,
             |  true AS finite_ok, true AS nonneg_ok,
             |  true AS label_pushed, true AS scatter_gather_plan,
             |  true AS fetch_pruned""".stripMargin),
      bench = true),

    // BATCH SERVE (round 15): every round-14 serve entry answers ONE
    // query — the production rerank job serves thousands per run, and
    // a per-query driver loop (probe → collect → fetch, ×Q) would make
    // the driver the bottleneck long before the cluster sweats. This
    // entry serves a query TABLE (≤64 queries: the mod-13 residue
    // class, 39 at sf0.01 — above the ≥32 bar) through ONE declarative
    // two-stage plan with zero driver round-trips between stages:
    //   - stage 1 (ADC): per-query probe windows, per-(query, cell)
    //     broadcast LUTs, one codes join, bounded-buffer per-query
    //     top-m (functions.TopKNearest — map-side partial keeps ≤ m
    //     rows per query per partition, the batch counterpart of
    //     TakeOrderedAndProject);
    //   - stage 2 (refine): the batch's candidate ids are materialized
    //     ONCE (Q·m rows), their DISTINCT id-range buckets collected
    //     (a driver-scale int list — the batch analogue of q96's
    //     candidate-id collect), and the fetch reads ONLY those bucket
    //     directories of the partitioned raw layout
    //     (ensureRefineBucketedLayout) — plan-REQUIRED partition
    //     pruning, refusing the r15 full-table scan this replaces (the
    //     last data-linear serve stage: the raw table is 8× the codes
    //     table, and every batch paid a full pass over it). The
    //     candidate pairs then ride a broadcast onto the pruned scan
    //     (never shuffled), exact squared-L2, same bounded per-query
    //     top-k. Buckets touched ≤ min(Q·m, nBuckets), so the fraction
    //     read FALLS as the corpus grows.
    // The no-per-query-loop property is plan-REQUIRED: the top-k must
    // appear as a two-phase (partial → merge) aggregate. Batch ≡
    // single-query serving per qid — both stages — and pruned-fetch ≡
    // full-scan-fetch are pinned in BatchServeSpec (same probes, same
    // LUT arrays, same folds, same total orders). Contracts here are
    // model-independent: every requested query served, ≤ k rows each,
    // contiguous ranks, finite non-negative exact distances.
    QueryDef(
      "q100_batch_serve",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val bucketedDir = ensureRefineBucketedLayout(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        val codes = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val queries = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .filter(pmod(col("vec_id"), lit(13)) === 1)
          .orderBy(col("vec_id")).limit(64)
          .select(col("vec_id").as("qid"), col("embedding"))
        // materialized once: reused by the bucket collect AND the
        // rerank's candidate broadcast (stage 1 executes exactly once)
        val cands = ProductQuantizer.ivfPqTopKBatch(queries, "qid",
            "embedding", HouseM, coarseF, booksF, codes, "vec_id",
            nProbe = HouseNProbe, k = 40, knownQ = 64)
          .select(col("qid"), col("vec_id"))
          .localCheckpoint(true)
        val (fetched, pruned) = batchPrunedFetch(s, bucketedDir, cands,
          "vec_id", maxBuckets = 64 * 40)
        require(pruned,
          "q100_batch_serve: the candidate bucket list did not reach " +
            "the raw_bucketed scan's PartitionFilters — the refine " +
            "fetch degraded to the full raw-table read")
        val res = ProductQuantizer.exactRerankBatch(cands,
          fetched, "vec_id", "embedding",
          queries, "qid", "embedding", 10, knownQ = 64)
        val plan = res.queryExecution.executedPlan.toString
        val twoPhase = plan.contains("partial_topknearest")
        require(twoPhase,
          "q100_batch_serve: the per-query top-k did not plan as a " +
            "two-phase partial aggregate — the batch merge degraded " +
            "(every scored row would cross the exchange)")
        val perQ = res.groupBy(col("qid"))
          .agg(count(lit(1)).as("n"), max(col("rank")).as("mr"),
            count(when(col("exact_dist").isNull ||
              isnan(col("exact_dist")), 1)).as("bad"),
            count(when(col("exact_dist") < -1e-9, 1)).as("neg"))
        perQ.agg(
            count(lit(1)).as("n_queries"),
            (max(col("n")) <= 10).as("k_bounded"),
            (count(when(col("mr") =!= col("n"), 1)) === 0)
              .as("ranks_contiguous"),
            (sum(col("bad")) === 0).as("finite_ok"),
            (sum(col("neg")) === 0).as("nonneg_ok"))
          .crossJoin(queries.agg(count(lit(1)).as("__nreq")))
          .select(col("n_queries"),
            (col("n_queries") === col("__nreq")).as("all_served"),
            col("k_bounded"), col("ranks_contiguous"), col("finite_ok"),
            col("nonneg_ok"),
            lit(twoPhase).as("batch_partial_agg"),
            lit(pruned).as("fetch_file_pruned"))
      },
      Some("""SELECT CAST(least(64, count(*)) AS BIGINT) AS n_queries,
             |  true AS all_served, true AS k_bounded,
             |  true AS ranks_contiguous, true AS finite_ok,
             |  true AS nonneg_ok, true AS batch_partial_agg,
             |  true AS fetch_file_pruned
             |FROM embeddings
             |WHERE vec_id <> 0 AND vec_id % 13 = 1""".stripMargin),
      bench = true),

    // BATCH × STACK (round 16 — r15 verdict #2): the production query
    // shape a 100 TB store actually runs in bulk — a query TABLE where
    // every query retrieves top-k WITHIN ITS OWN LABEL, exact-reranked,
    // against the full serving stack layout (q97's shard partitioning +
    // q95's label metadata + q96's refine) — one declarative two-stage
    // plan, no per-query driver loop. q100 proved batching on the plain
    // codes; this entry composes it with every production layer:
    //   - the UNION of the batch's labels is pushed into the
    //     codes_stack scan (plan-REQUIRED In(label) — rows NO query
    //     wants are never read), and each query's own label is
    //     exactified AFTER the scoring join by a broadcast (qid, label)
    //     frame (ivfPqTopKBatchFiltered — no second scan, no shuffle
    //     of the codes side);
    //   - the shard dirs are scanned as one logical table (the q97
    //     theorem: union of shard postings = unsharded postings under
    //     shared models, so batch-over-sharded ≡ batch-over-plain);
    //   - the refine fetch is the q100 partition-pruned bucket read
    //     (plan-REQUIRED), and the per-query top-k both stages is the
    //     bounded-buffer partial aggregate (plan-REQUIRED).
    // Batch ≡ single-query q99-shaped stack serving per qid is pinned
    // in BatchStackSpec; contracts here are model-independent, plus
    // all_labeled recomputed from the actual result set.
    QueryDef(
      "q102_batch_stack",
      (s, dir) => {
        import graft.operators.ProductQuantizer
        val idx = ensureAnnServeIndex(s, dir)
        val stackDir = ensureStackServeLayout(s, dir)
        val bucketedDir = ensureRefineBucketedLayout(s, dir)
        val coarseF = s.read.parquet(s"$idx/coarse")
        val booksF = s.read.parquet(s"$idx/books")
        // Q ≤ 32 queries, each carrying its own label predicate;
        // materialized once (Q rows) — reused by the label collect,
        // probe selection, rerank and contracts
        val queries = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .filter(pmod(col("vec_id"), lit(17)) === 1)
          .orderBy(col("vec_id")).limit(32)
          .select(col("vec_id").as("qid"), col("embedding"), col("label"))
          .localCheckpoint(true)
        val qLabels = queries.select(col("label")).distinct()
          .collect().map(_.getInt(0)).sorted
        require(qLabels.nonEmpty && qLabels.length <= 32,
          s"q102_batch_stack: ${qLabels.length} distinct query labels " +
            "— outside (0, 32]")
        val filtered = s.read.parquet(stackDir)
          .filter(col("label").isin(qLabels.map(Int.box): _*))
          .select(col("cell_id"), col("vec_id"), col("codes"),
            col("label"))
        s.conf.set("spark.sql.maxMetadataStringLength", "10000")
        val fplan = filtered.queryExecution.executedPlan.toString
        val lblTok =
          if (qLabels.length == 1) "EqualTo(label" else "In(label"
        val labelPushed = fplan.contains("PushedFilters") &&
          fplan.contains(lblTok)
        require(labelPushed,
          "q102_batch_stack: the union label list did not reach the " +
            "codes_stack scan — the filter layer degraded to a full read")
        val cands = ProductQuantizer.ivfPqTopKBatchFiltered(queries,
            "qid", "embedding", "label", HouseM, coarseF, booksF,
            filtered, "vec_id", nProbe = HouseNProbe, k = 40, knownQ = 32)
          .select(col("qid"), col("vec_id"))
          .localCheckpoint(true)
        val (fetched, pruned) = batchPrunedFetch(s, bucketedDir, cands,
          "vec_id", maxBuckets = 32 * 40)
        require(pruned,
          "q102_batch_stack: the candidate bucket list did not reach " +
            "the raw_bucketed scan's PartitionFilters — the refine " +
            "fetch degraded to the full raw-table read")
        val res = ProductQuantizer.exactRerankBatch(cands, fetched,
          "vec_id", "embedding", queries, "qid", "embedding", 10,
          knownQ = 32)
        val plan = res.queryExecution.executedPlan.toString
        val twoPhase = plan.contains("partial_topknearest")
        require(twoPhase,
          "q102_batch_stack: the per-query top-k did not plan as a " +
            "two-phase partial aggregate — the batch merge degraded")
        val lbls = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"))
        val qlbl = queries.select(col("qid"), col("label").as("qlabel"))
        val perQ = res.join(lbls, "vec_id").join(qlbl, "qid")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("n"), max(col("rank")).as("mr"),
            count(when(col("label") =!= col("qlabel"), 1))
              .as("mislabeled"),
            count(when(col("exact_dist").isNull ||
              isnan(col("exact_dist")), 1)).as("bad"),
            count(when(col("exact_dist") < -1e-9, 1)).as("neg"))
        perQ.agg(
            count(lit(1)).as("n_queries"),
            (max(col("n")) <= 10).as("k_bounded"),
            (count(when(col("mr") =!= col("n"), 1)) === 0)
              .as("ranks_contiguous"),
            (sum(col("mislabeled")) === 0).as("all_labeled"),
            (sum(col("bad")) === 0).as("finite_ok"),
            (sum(col("neg")) === 0).as("nonneg_ok"))
          .crossJoin(queries.agg(count(lit(1)).as("__nreq")))
          .select(col("n_queries"),
            (col("n_queries") === col("__nreq")).as("all_served"),
            col("k_bounded"), col("ranks_contiguous"),
            col("all_labeled"), col("finite_ok"), col("nonneg_ok"),
            lit(labelPushed).as("label_pushed"),
            lit(twoPhase).as("batch_partial_agg"),
            lit(pruned).as("fetch_file_pruned"))
      },
      Some("""SELECT CAST(least(32, count(*)) AS BIGINT) AS n_queries,
             |  true AS all_served, true AS k_bounded,
             |  true AS ranks_contiguous, true AS all_labeled,
             |  true AS finite_ok, true AS nonneg_ok,
             |  true AS label_pushed, true AS batch_partial_agg,
             |  true AS fetch_file_pruned
             |FROM embeddings
             |WHERE vec_id <> 0 AND vec_id % 17 = 1""".stripMargin),
      bench = true),

    // SQ8 SCALAR-QUANTIZED ANN (round 16): the second classic
    // compression tier beside PQ (FAISS QT_8bit) — per-DIMENSION byte
    // quantization against corpus [min, max], 4× compression with a
    // per-element error bound of span/512, i.e. a far higher fidelity
    // ceiling than a codebook (measured: tools/sq8_audit_r16.json).
    // The differentiator in this engine: min/max models are
    // order-independent, codes are closed-form integers and dequant
    // values deterministic doubles — so unlike every k-means entry
    // this pipeline carries a value-level DuckDB oracle end to end
    // (train → encode → asymmetric distances → top-10, hash-compared).
    // Honest tolerance statement (r16 ADVICE): the compared value is
    // round(sqd, 6), i.e. ROUND-TO-6 AGREEMENT, not bit-exactness —
    // LutSumF sums the 64 LUT entries in fixed dimension order while
    // DuckDB's SUM..GROUP BY accumulates in engine order, so the raw
    // doubles can differ in low-order bits; a sum landing within the
    // accumulated ulp error (~2^-40 relative here) of a 0.5e-6
    // rounding boundary could in principle round apart. The model,
    // codes and per-dimension LUT values ARE bit-exact (closed-form);
    // only the final 64-term sum carries the reassociation tolerance.
    // Serving reuses the PQ machinery byte-for-byte: global code ids
    // (dim·256 + byte), one driver-built flat LUT per query, LutSumF
    // over the codes scan — plan-REQUIRED shuffle-free (the only
    // operator after the scan is TakeOrderedAndProject). At 100 TB
    // this is the full-fidelity brute-force tier over 4×-compressed
    // codes; IVF cells compose on top exactly as over PQ codes when
    // probe pruning is wanted.
    QueryDef(
      "q104_ann_sq8",
      (s, dir) => {
        import graft.operators.ScalarQuantizer
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 0)
        val (lo, hi) = ScalarQuantizer.train(corpus, "embedding")
        val codes = ScalarQuantizer.encode(corpus, "vec_id", "embedding",
          lo, hi)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect()(0)
          .getSeq[Float](0).map(_.toDouble).toArray
        val lut = ScalarQuantizer.lutFor(qv, lo, hi)
        val top = codes
          .withColumn("sqd",
            graft.functions.LutSumF(col("codes"), typedLit(lut.toSeq)))
          .select(col("vec_id"), round(col("sqd"), 6).as("sqd6"))
          .orderBy(col("sqd6").asc, col("vec_id").asc)
          .limit(10)
        val plan = top.queryExecution.executedPlan.toString
        require(plan.contains("TakeOrderedAndProject") &&
          !plan.contains("Exchange"),
          "q104_ann_sq8: SQ8 serving must plan as a shuffle-free map " +
            "over the codes scan + TakeOrderedAndProject")
        top
      },
      Some("""WITH corpus AS (
             |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
             |ex AS (
             |  SELECT vec_id, unnest(range(len(embedding))) AS i,
             |         CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM corpus),
             |dims AS (SELECT i, min(x) AS lo, max(x) AS hi FROM ex GROUP BY i),
             |q AS (
             |  SELECT unnest(range(len(embedding))) AS i,
             |         CAST(unnest(embedding) AS DOUBLE) AS qx
             |  FROM embeddings WHERE vec_id = 0),
             |codes AS (
             |  SELECT ex.vec_id, ex.i,
             |    CASE WHEN d.hi = d.lo THEN 0
             |         ELSE CAST(least(255, greatest(0,
             |           floor((ex.x - d.lo) * 256.0 / (d.hi - d.lo))))
             |           AS INT) END AS c
             |  FROM ex JOIN dims d ON d.i = ex.i),
             |comp AS (
             |  SELECT codes.vec_id,
             |    (q.qx - (d.lo + (codes.c + 0.5) * (d.hi - d.lo) / 256.0))
             |    * (q.qx - (d.lo + (codes.c + 0.5) * (d.hi - d.lo) / 256.0))
             |      AS sq
             |  FROM codes
             |  JOIN dims d ON d.i = codes.i
             |  JOIN q ON q.i = codes.i)
             |SELECT vec_id, round(sum(sq), 6) AS sqd6
             |FROM comp GROUP BY vec_id
             |ORDER BY sqd6, vec_id LIMIT 10""".stripMargin),
      bench = true),

    // IVF × SQ8 (round 16): the composition q104's scaladoc promises
    // ("IVF cells compose over SQ8 codes exactly as over PQ codes"),
    // made a query instead of prose — trained coarse cells bound the
    // probe, SQ8 byte codes carry the fidelity, and serving scans only
    // the HouseNProbe probed cells' codes. Because trained centroids
    // are float-summation-order dependent, the oracle is a contract
    // row (the q24_ivf discipline) — but the contract carries the
    // composition's defining THEOREM, recomputed falsifiably: the
    // asymmetric SQ distance of a row is independent of WHICH cells
    // were probed (probing selects rows, never changes arithmetic), so
    // every served row's distance must EXACTLY equal its distance
    // under a no-probe full scan. A fused or cell-conditioned distance
    // path would diverge here.
    QueryDef(
      "q105_ann_ivfsq",
      (s, dir) => {
        import graft.operators.{KMeans, ScalarQuantizer}
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 0)
        val cents = ivfCentroids(s, dir, corpus)
        val assigned = KMeans.assign(corpus, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("cell_id"))
        val (lo, hi) = ScalarQuantizer.train(corpus, "embedding")
        val codes = ScalarQuantizer.encode(corpus, "vec_id", "embedding",
            lo, hi)
          .join(assigned, "vec_id")
          .localCheckpoint(true) // reused by probed serve + full-scan check
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")).limit(1)
        val qv = q.collect()(0).getSeq[Float](0).map(_.toDouble).toArray
        // probe ranking over the trained centroid table (model-scale,
        // the IVF shape): top-HouseNProbe cells by squared L2
        val l2 = graft.functions.VectorFns.normSq(col("cv")) -
          lit(2.0) * graft.functions.VectorFns.dot(col("cv"), col("qv")) +
          graft.functions.VectorFns.normSq(col("qv"))
        val probed = cents.crossJoin(broadcast(q))
          .withColumn("qd", l2)
          .orderBy(col("qd").asc, col("cell_id").asc)
          .limit(HouseNProbe)
          .select(col("cell_id")).collect().map(_.getLong(0)).toSeq
        require(probed.nonEmpty && probed.size <= HouseNProbe,
          s"q105_ann_ivfsq: probe selection returned ${probed.size} cells")
        val lut = ScalarQuantizer.lutFor(qv, lo, hi)
        val lutL = typedLit(lut.toSeq)
        val top = codes
          .filter(col("cell_id").isin(probed.map(Long.box): _*))
          .withColumn("sqd", graft.functions.LutSumF(col("codes"), lutL))
          .orderBy(col("sqd").asc, col("vec_id").asc)
          .limit(10)
          .localCheckpoint(true) // 10 rows, reused by both contracts
        // the composition theorem: served distances must equal the
        // no-probe full-scan distances EXACTLY for the same ids
        val full = codes
          .withColumn("sqd_full", graft.functions.LutSumF(col("codes"), lutL))
          .select(col("vec_id"), col("sqd_full"))
        top.join(full, "vec_id")
          .agg(
            count(lit(1)).as("n_results"),
            (count(when(col("sqd") =!= col("sqd_full"), 1)) === 0)
              .as("dist_probe_independent"),
            (countDistinct(col("cell_id")) <= HouseNProbe).as("cells_ok"),
            (count(when(col("sqd").isNull || isnan(col("sqd")), 1)) === 0)
              .as("finite_ok"),
            (count(when(col("sqd") < 0, 1)) === 0).as("nonneg_ok"))
          .select(least(col("n_results"), lit(10L)).as("n_results"),
            (col("n_results") >= 1).as("nonempty"),
            col("dist_probe_independent"), col("cells_ok"),
            col("finite_ok"), col("nonneg_ok"))
      },
      Some("""SELECT CAST(least(10, count(*)) AS BIGINT) AS n_results,
             |  true AS nonempty, true AS dist_probe_independent,
             |  true AS cells_ok, true AS finite_ok, true AS nonneg_ok
             |FROM embeddings WHERE vec_id <> 0""".stripMargin),
      bench = true),

    // The drift loop's STEADY STATE, timed: one quiet q84-shaped
    // trigger end to end — frozen-model encode of the arriving batch,
    // one generation write, the PSI gate from STORED occupancies (1-row
    // statistic), and the durable decision-log row. This is the cost a
    // 100 TB operator pays on EVERY micro-batch (the fired path is
    // rare by design and measured under q81/q86); until r12 it lived
    // only inside CORRECTNESS where micro-batch scaffolding buried it.
    // The index build is the shared untimed q68 pre-build; the contract
    // (in-distribution batch stays quiet, with q76's rehearsed ~3×
    // margin under the 0.75 threshold) makes a silently-broken gate
    // fail loudly rather than time a no-op.
    QueryDef(
      "q84_quiet_trigger",
      (s, dir) => {
        val idx = ensureAnnServeIndex(s, dir)
        val coarseF = modelScaleStamp(s.read.parquet(s"$idx/coarse"),
          "q84_quiet_trigger frozen coarse-centroid table")
        val booksF = s.read.parquet(s"$idx/books")
        val batch = t(s, dir, "embeddings")
          .filter(col("vec_id") =!= 0)
          .filter(pmod(col("vec_id"), lit(10)) === 9)
        // 1. append: frozen encode + one generation write (O(batch))
        val out = s"$idx/trigger/codes/gen=1"
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(out)
        // 2. detect: PSI of the generation just written vs the stored
        //    base occupancy — both sides read back from parquet
        val psi = IndexDrift.occupancyPsiFromOccupancies(
            s.read.parquet(s"$idx/base_occ"),
            IndexDrift.occupancyOfCodes(s.read.parquet(out)),
            coarseF)
          .select(col("n_batch"), col("psi")).collect()(0)
        // 3. the durable per-generation decision-log row (q84's shape)
        s.range(1)
          .select(lit(1L).as("gen"),
            lit(psi.getDouble(1) > 0.75).as("retrain_fired"))
          .write.mode("overwrite").parquet(s"$idx/trigger/log/gen=1")
        s.read.parquet(s"$idx/trigger/log/gen=1")
          .select(lit(psi.getLong(0)).as("n_batch"),
            (!col("retrain_fired")).as("quiet"))
      },
      Some("""SELECT CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_batch,
             |       true AS quiet
             |FROM embeddings WHERE vec_id <> 0""".stripMargin),
      bench = true),

    // The compaction loop's WORST-CASE trigger, timed (r12 task 5):
    // q84_quiet_trigger tracks the steady state; the adopting trigger
    // is the most expensive synchronous path left after q89/q90 moved
    // training and folding off-trigger — listing reads, the
    // done-marker check, ONE 1-row manifest write, and the sweep of
    // superseded directories. The template state (3 code generations,
    // a completed fold + request + done marker) is built untimed once
    // per process; each timed run resets a working copy with plain
    // filesystem copies (no Spark job — ~ms) and performs one real
    // adoption, so the number tracks exactly what a 100 TB stream
    // pays at the moment a fold lands. The contract (one epoch
    // serving every arrival once, generations really swept) makes a
    // silently-no-op adoption fail loudly rather than time nothing.
    QueryDef(
      "q89_adopt_trigger",
      (s, dir) => {
        val tpl = ensureAdoptFixture(s, dir)
        val work = graft.RunPaths.scratch(
          "graft_q89adopt_run_" + graft.RunPaths.keyFor(dir))
        wipeDirRec(new java.io.File(work))
        copyDirRec(new java.io.File(tpl), new java.io.File(work))
        // ---- the adopting trigger's synchronous work: the EXACT
        // production adoption body (StreamOps.adoptCompactEpoch —
        // shared with q89's adoptIfReady, so the benched path cannot
        // drift from the path it claims to measure). Nothing below
        // touches data-sized rows ----
        import graft.streaming.StreamOps
        val ready = StreamOps.genDirs(s, s"$work/freq", "req=")
          .filter(r => r > 0L &&
            new java.io.File(s"$work/freq/req=$r/_FOLD_DONE").exists())
        require(ready.nonEmpty,
          s"q89_adopt_trigger fixture has no completed fold request under " +
            s"$work/freq — template copy missing or corrupt")
        val r = ready.max
        StreamOps.adoptCompactEpoch(s, work, 0L, r)
        s.range(1).select(lit(4L).as("gen"), lit(true).as("adopted"))
          .write.mode("overwrite").parquet(s"$work/log/gen=4")
        val nGens = StreamOps.genDirs(s, s"$work/codes", "gen=").length
        s.read.parquet(s"$work/compact/epoch=1")
          .agg(count(lit(1)).as("n_index"),
            (count(lit(1)) === countDistinct(col("vec_id")))
              .as("ids_unique"))
          .select(lit(nGens == 0).as("gens_swept"), col("n_index"),
            col("ids_unique"))
      },
      Some("""SELECT true AS gens_swept,
             |  CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_index,
             |  true AS ids_unique
             |FROM embeddings WHERE vec_id <> 0""".stripMargin),
      bench = true),

    // Retrain trigger for the frozen-model index family (q68/q69/q75):
    // cell-occupancy PSI of an appended batch against the base corpus
    // (operators/IndexDrift.scala — statistic choice and thresholds
    // rehearsed there). Two batches face the trigger: the held-out
    // in-distribution batch (PSI ≈ sampling noise, must NOT trigger)
    // and the same batch shifted +0.5 per component (a region the
    // frozen centroids don't cover, must trigger). PSI floats are
    // model-dependent (k-means is not bit-stable), so the contract row
    // carries only counts and the threshold booleans, with ~3.5×
    // rehearsed margin on each side of the 0.75 threshold.
    QueryDef(
      "q76_ann_drift_trigger",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val merged = e.filter(col("vec_id") =!= 0)
        val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
        val batch = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
        val drifted = IndexDrift.shifted(batch, "vec_id", "embedding")
        val coarse = ivfCentroids(s, dir, base)
        // base occupancy computed ONCE (K rows, checkpointed) and fed
        // to both triggers — the persisted-beside-the-centroids shape
        val baseOcc = IndexDrift.cellOccupancy(
          base, "vec_id", "embedding", coarse).localCheckpoint(true)
        val inD = IndexDrift.retrainTriggerFromBase(
          baseOcc, batch, "vec_id", "embedding", coarse)
        val dr = IndexDrift.retrainTriggerFromBase(
          baseOcc, drifted, "vec_id", "embedding", coarse)
        inD.select(col("n_base"), col("n_batch"),
            col("retrain_needed").as("in_dist_trigger"))
          .crossJoin(dr.select(col("retrain_needed").as("drifted_trigger")))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN vec_id % 10 <> 9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_base,
             |  CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_batch,
             |  false AS in_dist_trigger, true AS drifted_trigger
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // The retrain ACTION closing the drift loop (q76/q78 detect, this
    // one acts — annMaybeRetrain). Both branches are exercised against
    // one frozen index:
    //   clean append  → trigger quiet → NO retrain, and serving is
    //     byte-identical (ids AND ADC distances) to plain frozen-append
    //     serving — the action provably does nothing on clean data;
    //   drifted append → trigger fires → a new model generation is
    //     trained on the merged corpus, re-encoded, and served — and on
    //     the DRIFTED WORKLOAD (shifted held-out queries, the scenario
    //     RecallRehearsal measured at 0.20-frozen vs 0.44-retrained
    //     recall@10) the retrained serving must recover recall:
    //     summed exact-top-10 hits strictly above the frozen index's.
    // Counts and threshold booleans only in the contract row (k-means
    // floats are not bit-stable); the recall comparison is a
    // strict-inequality structural claim with the rehearsed ~2x margin
    // behind it.
    QueryDef(
      "q81_ann_retrain",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val all = e.filter(col("vec_id") =!= 0)
        // held-out workload vectors (RecallRehearsal's residue class):
        // never indexed, used as serving queries
        val isQ = pmod(col("vec_id"), lit(25)) === 7
        val corpus = all.filter(!isQ)
          .select(col("vec_id"), col("embedding")).localCheckpoint(true)
        val base = corpus.filter(pmod(col("vec_id"), lit(10)) =!= 9)
        val clean = corpus.filter(pmod(col("vec_id"), lit(10)) === 9)
        val drifted = IndexDrift.shifted(clean, "vec_id", "embedding")
        val idx = graft.RunPaths.scratch(
          "graft_q81_index_" + graft.RunPaths.keyFor(dir))
        val mDir = s"$idx/model"
        // offline build: the shared persist-first frozen layout
        val (coarseF, booksF) = buildFrozenIndex(s, dir, base, mDir,
          "q81 frozen coarse-centroid table")
        // the action, both branches
        val (cC, cB, cCodes, cRetrained) =
          annMaybeRetrain(s, dir, mDir, s"$idx/clean", base, clean)
        val (dC, dB, dCodes, dRetrained) =
          annMaybeRetrain(s, dir, mDir, s"$idx/drift", base, drifted)
        val cCodesC = cCodes.localCheckpoint(true)
        val dCodesC = dCodes.localCheckpoint(true)
        def topk(coarse: DataFrame, books: DataFrame, codes: DataFrame,
            q: DataFrame): DataFrame =
          ProductQuantizer.ivfPqTopK(
            q, "embedding", HouseM, coarse, books, codes, "vec_id",
            nProbe = 4, k = 10)
        // quiet branch: serving through the action's returned state
        // must EQUAL plain frozen-append serving, ids and distances
        val cleanQ = all.filter(isQ).orderBy(col("vec_id")).limit(1)
          .select(col("embedding"))
        val frozenCleanCodes = s.read.parquet(s"$mDir/codes/gen=0")
          .unionByName(s.read.parquet(s"$idx/clean/codes/gen=1"))
          .select(col("cell_id"), col("vec_id"), col("codes"))
        val viaAction = topk(cC, cB, cCodesC, cleanQ)
          .select(col("vec_id"), col("adc_dist").as("da"))
        val direct = topk(coarseF, booksF, frozenCleanCodes, cleanQ)
          .select(col("vec_id"), col("adc_dist").as("dd"))
        val cleanIdentical = viaAction.join(direct, Seq("vec_id"), "full")
          .filter(col("da").isNull || col("dd").isNull ||
            col("da") =!= col("dd"))
          .count() == 0
        // drifted branch: the WORKLOAD follows the drift; recall of
        // frozen vs retrained serving against the exact top-10 over
        // the same merged (base + drifted) corpus, summed across 6
        // held-out shifted queries (driver loop = k-query serving,
        // model-scale)
        val driftCorpus = base.unionByName(drifted).localCheckpoint(true)
        val frozenDriftCodes = s.read.parquet(s"$mDir/codes/gen=0")
          .unionByName(s.read.parquet(s"$idx/drift/codes/gen=1"))
          .select(col("cell_id"), col("vec_id"), col("codes"))
          .localCheckpoint(true)
        val qRows = IndexDrift
          .shifted(all.filter(isQ), "vec_id", "embedding")
          .orderBy(col("vec_id")).limit(6)
          .select(col("embedding")).collect()
        // the exact top-10 baseline is INDEX-INDEPENDENT: compute the 6
        // crossJoin-and-sort exact jobs once and collect the 10 winner
        // ids each (driver-scale, 60 longs) — hitsOf then only runs the
        // cheap per-index topk, instead of paying the dominant exact
        // jobs again for every serving it scores
        val exactIds = qRows.map { row =>
          val q = s.createDataFrame(
            java.util.Arrays.asList(row),
            org.apache.spark.sql.types.StructType(row.schema))
          val ids = driftCorpus
            .crossJoin(broadcast(q.select(col("embedding").as("qv"))))
            .select(col("vec_id"),
              (VectorFns.normSq(col("embedding")) -
                lit(2.0) * VectorFns.dot(col("embedding"), col("qv")) +
                VectorFns.normSq(col("qv"))).as("d"))
            .orderBy(col("d").asc, col("vec_id").asc).limit(10)
            .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
          (q, ids)
        }
        def hitsOf(coarse: DataFrame, books: DataFrame,
            codes: DataFrame): Long =
          exactIds.iterator.map { case (q, ids) =>
            topk(coarse, books, codes, q.select(col("embedding")))
              .filter(col("vec_id").isin(ids: _*)).count()
          }.sum
        val hFrozen = hitsOf(coarseF, booksF, frozenDriftCodes)
        val hRetrained = hitsOf(dC, dB, dCodesC)
        val covers = dCodesC.count() == base.count() + clean.count()
        base.agg(count(lit(1)).as("n_base"))
          .crossJoin(clean.agg(count(lit(1)).as("n_batch")))
          .select(col("n_base"), col("n_batch"),
            lit(cRetrained).as("clean_trigger"),
            lit(dRetrained).as("drift_trigger"),
            lit(cleanIdentical).as("clean_serving_identical"),
            lit(covers).as("retrain_covers"),
            lit(hRetrained > hFrozen).as("recall_recovered"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN vec_id % 10 <> 9 AND vec_id % 25 <> 7
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
             |  CAST(sum(CASE WHEN vec_id % 10 = 9 AND vec_id % 25 <> 7
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
             |  false AS clean_trigger, true AS drift_trigger,
             |  true AS clean_serving_identical, true AS retrain_covers,
             |  true AS recall_recovered
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // ------------------------------ persisted-index lifecycle (q70)
    // The rest of the q68/q69 index's life: DELETES and COMPACTION.
    // Deletes are TOMBSTONES (a persisted id set; serving anti-joins it
    // before scoring — logical deletion, zero index rewrite, the only
    // delete an append-only 100 TB index can afford per-request).
    // Compaction then folds all generations minus tombstones into ONE
    // delete-free generation, repartitioned by cell_id so the probe
    // join reads clustered cells (at scale: partitionBy(cell_id) →
    // probe-side partition pruning). Contracts (one row, all
    // deterministic — same frozen models throughout): compacted index
    // = base + appended − deleted exactly; zero tombstoned ids survive
    // compaction; serving the compacted index equals serving
    // generations+tombstones (ids AND ADC distances) — compaction is
    // invisible to queries; and a negative control proves the equality
    // has teeth: RAW serving (tombstones ignored) does surface deleted
    // ids, so forgetting the anti-join cannot pass.
    QueryDef(
      "q70_index_lifecycle",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).limit(1)
        val merged = e.filter(col("vec_id") =!= 0)
        val base = merged.filter(pmod(col("vec_id"), lit(10)) =!= 9)
        val batch = merged.filter(pmod(col("vec_id"), lit(10)) === 9)
        val idx = graft.RunPaths.scratch(
          "graft_q70_index_" + graft.RunPaths.keyFor(dir))
        // build + append, the shared persist-first frozen layout
        val (coarseF, booksF) = buildFrozenIndex(s, dir, base, idx,
          "q70 frozen coarse-centroid table", withOccupancy = false)
        ProductQuantizer.ivfPqEncodeWith(
            batch, "vec_id", "embedding", HouseM, coarseF, booksF)
          .write.mode("overwrite").parquet(s"$idx/codes/gen=1")
        val gens = s.read.parquet(s"$idx/codes")
          .select(col("cell_id"), col("vec_id"), col("codes"))
        def serveGens(codes: DataFrame): DataFrame = ProductQuantizer.ivfPqTopK(
          query, "embedding", HouseM, coarseF, booksF,
          codes.select(col("cell_id"), col("vec_id"), col("codes")),
          "vec_id", nProbe = 4, k = 10)
        // tombstone every indexed id ≡ 3 (mod 7), PLUS the raw top-1
        // result (one driver-scale row): the delete set then provably
        // intersects the serving region at ANY data generation, so the
        // negative control below is structural, not a property of this
        // particular embeddings table
        val rawTopId = serveGens(gens)
          .select(col("vec_id")).limit(1).collect().head.getLong(0)
        merged.filter(pmod(col("vec_id"), lit(7)) === 3 ||
            col("vec_id") === rawTopId)
          .select(col("vec_id"))
          .write.mode("overwrite").parquet(s"$idx/deletes")
        val dead = s.read.parquet(s"$idx/deletes")
        // compaction: generations − tombstones → one cell-clustered file
        gens.join(dead, Seq("vec_id"), "left_anti")
          .repartition(col("cell_id"))
          .write.mode("overwrite").parquet(s"$idx/codes_compact")
        val compact = s.read.parquet(s"$idx/codes_compact")
        val live = serveGens(gens.join(dead, Seq("vec_id"), "left_anti"))
        val comp = serveGens(compact)
        val same = live.select(col("vec_id"), col("adc_dist").as("d_l"))
          .join(comp.select(col("vec_id"), col("adc_dist").as("d_c")),
            Seq("vec_id"), "full")
          .agg(((count(lit(1)) === 10) &&
            (count(when(col("d_l").isNull || col("d_c").isNull ||
              col("d_l") =!= col("d_c"), 1)) === 0)).as("compaction_invisible"))
        // negative control: serving the RAW generations (tombstones
        // ignored) must surface at least one deleted id in the top-k —
        // structurally guaranteed by including the raw top-1 in the
        // delete set above — so the live-vs-compacted equality has
        // detection power (a serving path that forgot the anti-join
        // would diverge from the compacted index and fail
        // compaction_invisible). Asserting "no tombstone in live"
        // directly would be tautological: live is anti-joined by
        // construction.
        val rawHasDead = serveGens(gens).join(dead, Seq("vec_id"), "left_semi")
          .agg((count(lit(1)) >= 1).as("deletes_visible_raw"))
        val survivors = compact.join(dead, Seq("vec_id"), "left_semi")
          .agg((count(lit(1)) === 0).as("deletes_compacted_out"))
        // the delete set's size depends on whether the raw top-1 id
        // already sits in the residue class, so absolute counts are not
        // closed-form; the oracle-stable accounting claim is the
        // conservation law live = index − deleted
        compact.agg(count(lit(1)).as("n_live"))
          .crossJoin(gens.agg(count(lit(1)).as("n_index")))
          .crossJoin(dead.agg(count(lit(1)).as("n_dead")))
          .crossJoin(survivors)
          .crossJoin(rawHasDead)
          .crossJoin(same)
          .select(col("n_index"),
            (col("n_live") === col("n_index") - col("n_dead"))
              .as("counts_consistent"),
            col("deletes_compacted_out"), col("deletes_visible_raw"),
            col("compaction_invisible"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_index,
             |  true AS counts_consistent,
             |  true AS deletes_compacted_out,
             |  true AS deletes_visible_raw,
             |  true AS compaction_invisible
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // ----------------------------------------------------- text analysis
    QueryDef(
      "q25_text_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(size(TextFns.tokens(col("text"))).cast("long")).as("total_tokens"),
            max(length(col("text")).cast("long")).as("max_len"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |       CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
             |       max(CAST(length(text) AS BIGINT)) AS max_len
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      "q25_quality",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val enStops = TextFns.langStopwords.toMap.apply("en")
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tokens"),
            TextFns.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
            round(length(col("text")).cast("double") / size(toks).cast("double"), 6).as("avg_token_len"),
            round(TextFns.punctRatio(col("text")), 6).as("punct_ratio"),
            round(TextFns.stopwordCount(col("text"), enStops).cast("double") /
              size(toks).cast("double"), 6).as("stopword_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
              |  round(CAST(length(text) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len,
              |  round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) /
              |        CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
              |  round(CAST(len(list_filter(string_split(text, ' '),
              |          x -> x IN (${TextFns.langStopwords.toMap.apply("en").map(w => s"'$w'").mkString(",")}))) AS DOUBLE) /
              |        CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic: stopword-vote argmax, first-match tie-break.
    QueryDef(
      "q25_langid",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), TextFns.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang_pred"),
      Some {
        val sets = TextFns.langStopwords.map { case (lang, ws) =>
          lang -> s"len(list_filter(string_split(text, ' '), x -> x IN (${ws.map(w => s"'$w'").mkString(",")})))"
        }
        val best = s"greatest(${sets.map(_._2).mkString(", ")})"
        val cases = sets.map { case (lang, e) => s"WHEN $e = best AND best > 0 THEN '$lang'" }
        s"""WITH scored AS (SELECT doc_id, $best AS best,
           |  CASE ${cases.mkString(" ")} ELSE 'und' END AS lang_pred
           |  FROM documents)
           |SELECT lang_pred, count(*) AS n_docs FROM scored
           |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
      }),

    // Rolling-hash fingerprint (custom codegen expression) used as a
    // dedup key: grouping by the 64-bit fingerprint must produce exactly
    // the groups that grouping by the full text produces (fp is a pure
    // function of text, and collision-freeness on the corpus is asserted
    // in LlmOpsSpec) — which gives the hash an exact text-side oracle
    // while shipping 8 bytes instead of ~500 through the shuffle.
    QueryDef(
      "q25_fingerprint",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            RollingHash64.rolling_hash64(col("text")).as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy("keep_id"),
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // ------------------------------------------------------ PII scrub
    // Regex-redaction pass a training pipeline runs before anything else:
    // emails -> [EMAIL], digit runs -> #. The PII-bearing contact string
    // is synthesized deterministically from customer fields (the corpus
    // itself ships no PII) so the redaction has nonzero effect and both
    // engines see identical input. Pure regexp_replace — codegen'd,
    // embarrassingly parallel, no shuffle.
    QueryDef(
      "q25_pii_scrub",
      (s, dir) => {
        val contact = concat(
          col("c_name"), lit(" <"),
          lower(regexp_replace(col("c_name"), "Customer#", "user")),
          lit("@example.com> tel:"),
          col("c_nationkey").cast("string"), lit("-"),
          col("c_custkey").cast("string"))
        t(s, dir, "customer")
          .select(col("c_custkey"),
            regexp_replace(
              regexp_replace(contact,
                "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "[EMAIL]"),
              "[0-9]+", "#").as("redacted"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |  regexp_replace(
             |    regexp_replace(
             |      c_name || ' <' || lower(regexp_replace(c_name, 'Customer#', 'user'))
             |             || '@example.com> tel:' || CAST(c_nationkey AS VARCHAR)
             |             || '-' || CAST(c_custkey AS VARCHAR),
             |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             |    '[0-9]+', '#', 'g') AS redacted
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------- quality filtering
    // The filter stage the quality scores feed: drop too-short docs and
    // docs with no stopword signal, report kept/total per language.
    // Filter + partial agg — one scan, one small shuffle.
    QueryDef(
      "q25_quality_filter",
      (s, dir) => {
        val toks = TextFns.tokens(col("text"))
        val enStops = TextFns.langStopwords.toMap.apply("en")
        val keep = (size(toks) >= 20) &&
          (TextFns.stopwordCount(col("text"), enStops).cast("double") /
            size(toks).cast("double") >= 0.02)
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_total"),
            count(when(keep, 1)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_total,
             |  CAST(count(*) FILTER (
             |    len(string_split(text, ' ')) >= 20 AND
             |    CAST(len([t FOR t IN string_split(text, ' ')
             |              IF t IN ('the','a','of','and','to','in','is','it')]) AS DOUBLE)
             |      / len(string_split(text, ' ')) >= 0.02) AS BIGINT) AS n_kept
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // --------------------------------------------------- top n-grams
    // Corpus-level n-gram document frequency (contamination analysis,
    // boilerplate detection): explode per-doc distinct shingles, count,
    // top-20 with deterministic tie-break. Partial aggregation makes the
    // shuffle carry one (shingle, count) per partition, and the top-k is
    // TakeOrderedAndProject — no global sort.
    QueryDef(
      "q25_top_ngrams",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(WordShingles.word_shingles(col("text"), 3)).as("shingle"))
          .groupBy(col("shingle"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("n_docs").desc, col("shingle"))
          .limit(20),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |s AS (SELECT doc_id, $duckShingles AS sh FROM d WHERE len(w) >= 3)
              |SELECT sh2 AS shingle, count(*) AS n_docs
              |FROM (SELECT unnest(sh) AS sh2 FROM s)
              |GROUP BY shingle ORDER BY n_docs DESC, shingle LIMIT 20""".stripMargin)),

    // ------------------------------------------ BPE-ish token counting
    // Pre-tokenizer token statistics: letter runs, digit runs, and
    // non-alphanumeric singles (the GPT-2-style pretoken classes), plus
    // a subword estimate (ceil(len/4) per letter run — the ~4-chars-per-
    // BPE-token heuristic). All regexp_extract_all over codegen'd
    // expressions, one scan, integer outputs; the real tokenizer's merge
    // table would replace only the per-token arithmetic.
    QueryDef(
      "q25_bpe_tokens",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)).as("alpha"),
            size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("n_num_runs"),
            size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_punct"))
          .select(col("doc_id"),
            size(col("alpha")).cast("long").as("n_alpha_runs"),
            col("n_num_runs"), col("n_punct"),
            aggregate(
              transform(col("alpha"), x => ceil(length(x) / lit(4.0))),
              lit(0L), (acc, x) => acc + x).as("bpe_est"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha_runs,
             |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs,
             |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
             |  CAST(coalesce(list_sum([CAST(ceil(len(x) / 4.0) AS BIGINT)
             |    FOR x IN regexp_extract_all(text, '[A-Za-z]+')]), 0) AS BIGINT) AS bpe_est
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------- repetition signals
    // Gopher-style per-document repetition features: the count of the most
    // frequent 2-gram (top-2gram coverage) and the number of duplicated
    // 3-grams, plus a cutoff flag. Outputs are integers and an
    // integer-compare boolean — no double rounding, hash-exact. Each gram
    // family is one explode + partial-agg shuffle keyed (doc_id, gram);
    // at 100 TB that's the standard per-doc feature shape (narrow keys,
    // combiner-friendly, no skew beyond the longest document).
    QueryDef(
      "q25_repetition",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
        val top2 = docs
          .select(col("doc_id"), explode(WordNgrams.word_ngrams(col("text"), 2)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg(max(col("c")).as("top_2gram_count"))
        val dup3 = docs
          .select(col("doc_id"), explode(WordNgrams.word_ngrams(col("text"), 3)).as("g"))
          .groupBy(col("doc_id"))
          .agg((count(lit(1)) - countDistinct(col("g"))).as("dup_3gram_count"))
        base.join(top2, "doc_id").join(dup3, "doc_id")
          .withColumn("repetitive", col("top_2gram_count") * 10 >= col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS g
             |       FROM d WHERE len(w) >= 2),
             |t2 AS (SELECT doc_id, max(c) AS top2
             |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
             |g3 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]) AS g
             |       FROM d WHERE len(w) >= 3),
             |t3 AS (SELECT doc_id, count(*) - count(DISTINCT g) AS dup3 FROM g3 GROUP BY 1)
             |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
             |       CAST(t2.top2 AS BIGINT) AS top_2gram_count,
             |       CAST(t3.dup3 AS BIGINT) AS dup_3gram_count,
             |       (t2.top2 * 10 >= len(d.w)) AS repetitive
             |FROM d JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // --------------------------------------------- contamination check
    // Benchmark-contamination scan: count documents containing each probe
    // string from a (small, broadcast) eval set. The probe set rides a
    // broadcast cross join; the scan is one pass over the corpus with no
    // shuffle on the documents side.
    QueryDef(
      "q25_contamination",
      (s, dir) => {
        val probeStrings = Seq(
          "table key filter", "row column sort", "stream table hash",
          "quantum flux capacitor")
        val probes = s.createDataFrame(
          probeStrings.map(Tuple1(_))).toDF("probe")
        t(s, dir, "documents")
          .crossJoin(broadcast(probes))
          .groupBy(col("probe"))
          .agg(count(when(col("text").contains(col("probe")), 1)).as("n_docs"))
          .orderBy("probe")
      },
      Some("""SELECT p.probe,
             |  CAST(count(*) FILTER (contains(d.text, p.probe)) AS BIGINT) AS n_docs
             |FROM (VALUES ('table key filter'), ('row column sort'),
             |             ('stream table hash'), ('quantum flux capacitor')) p(probe)
             |CROSS JOIN documents d
             |GROUP BY p.probe ORDER BY p.probe""".stripMargin)),

    // ------------------------------------------------ multimodal columns
    // Opaque binary payload + typed metadata struct, written and read
    // back through the zstd parquet sink — the schema/partitioning
    // plumbing for image/audio columns (decode itself is environment-
    // dependent and stubbed; see graft.operators.Multimodal).
    QueryDef(
      "q26_multimodal",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val assets = docs.select(
          col("doc_id").as("asset_id"),
          encode(col("text"), "UTF-8").as("payload"),
          struct(
            lit("text/plain").as("mime"),
            col("n_chars").cast("int").as("w"),
            lit(0).as("h")).as("meta"))
        val out = graft.RunPaths.scratch("graft_q26_assets.parquet")
        assets.write.mode("overwrite").option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .select(col("asset_id"),
            length(col("payload")).cast("long").as("payload_bytes"),
            col("meta.mime").as("mime"),
            col("meta.w").cast("long").as("w"))
          .orderBy("asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
             |       'text/plain' AS mime,
             |       CAST(n_chars AS BIGINT) AS w
             |FROM documents ORDER BY asset_id""".stripMargin)),

    // Partition-wise decode/feature-extract over binary payloads
    // (graft.operators.Multimodal; codec stubbed, plumbing real). The
    // fixture payloads are ASCII text, so the byte-level features have an
    // exact SQL formulation for the oracle.
    QueryDef(
      "q26_multimodal_decode",
      (s, dir) =>
        graft.operators.Multimodal.extractFeatures(
          graft.operators.Multimodal.assetsFromDocuments(s, dir))
          .orderBy("asset_id"),
      Some("""SELECT doc_id AS asset_id,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS head_byte,
             |  CAST(list_sum([ascii(x) FOR x IN string_split(text, '')]) % 256 AS BIGINT) AS byte_sum_mod
             |FROM documents ORDER BY asset_id""".stripMargin)),

    // ------------------------------------------------- frame sampling
    // Video/audio frame-sample plumbing: 3 deterministic byte-range
    // frames per asset, one feature row each (operators/Multimodal
    // .sampleFrames). The oracle replicates the BYTE arithmetic with
    // character functions, which is exact only because the generated
    // documents corpus is ASCII (1 byte = 1 char — multi-byte text would
    // desync length(text) from octet_length; see the assertion in
    // LlmOpsSpec). The CASE mirrors the stub's empty-frame convention
    // (frame_len 0 -> head_byte -1), so sub-3-char docs stay exact.
    QueryDef(
      "q26_frame_sample",
      (s, dir) =>
        graft.operators.Multimodal.sampleFrames(
          graft.operators.Multimodal.assetsFromDocuments(s, dir), 3)
          .orderBy("asset_id", "frame_idx"),
      Some("""SELECT doc_id AS asset_id, CAST(f AS BIGINT) AS frame_idx,
             |  ((f+1) * length(text)) // 3 - (f * length(text)) // 3 AS frame_len,
             |  CAST(CASE WHEN ((f+1) * length(text)) // 3 = (f * length(text)) // 3 THEN -1
             |       ELSE ascii(substring(text, CAST((f * length(text)) // 3 AS INTEGER) + 1, 1)) END AS BIGINT) AS head_byte
             |FROM documents, (SELECT unnest([0, 1, 2]) AS f)
             |ORDER BY asset_id, frame_idx""".stripMargin)),

    // Resize (payload -> payload with meta update, operators/Multimodal
    // .resize): keep every 4th byte; the ASCII payload again gives DuckDB
    // an exact character-arithmetic replica of the byte stub (same ASCII
    // caveat as q26_frame_sample). Empty-text guard: Spark's
    // ascii('') = 0, so the oracle pins 0 explicitly rather than
    // relying on DuckDB's ascii('') behavior.
    QueryDef(
      "q26_resize",
      (s, dir) => {
        val assets = graft.operators.Multimodal.assetsFromDocuments(s, dir)
        val resized = graft.operators.Multimodal.resize(assets, 4)
        val orig = assets.select(
          col("asset_id").as("o_id"), length(col("payload")).cast("long").as("orig_bytes"))
        resized.join(orig, col("asset_id") === col("o_id"))
          .select(
            col("asset_id"),
            col("orig_bytes"),
            length(col("payload")).cast("long").as("resized_bytes"),
            ascii(decode(substring(col("payload"), 1, 1), "UTF-8")).cast("long").as("head_byte"),
            ascii(decode(expr("substring(payload, length(payload), 1)"), "UTF-8"))
              .cast("long").as("tail_byte"),
            col("meta.w").cast("long").as("new_w"))
          .orderBy("asset_id")
      },
      Some("""SELECT doc_id AS asset_id,
             |  CAST(length(text) AS BIGINT) AS orig_bytes,
             |  CAST((length(text) + 3) // 4 AS BIGINT) AS resized_bytes,
             |  CAST(CASE WHEN length(text) = 0 THEN 0
             |       ELSE ascii(substring(text, 1, 1)) END AS BIGINT) AS head_byte,
             |  CAST(CASE WHEN length(text) = 0 THEN 0
             |       ELSE ascii(substring(text, CAST(1 + 4 * ((length(text) - 1) // 4) AS INTEGER), 1)) END AS BIGINT) AS tail_byte,
             |  CAST((n_chars + 3) // 4 AS BIGINT) AS new_w
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Audio-window features (operators/Multimodal.audioWindows): payload
    // bytes as unsigned samples, 256-byte windows, per-window integer
    // amplitude stats — exact, so the ASCII corpus again gives DuckDB a
    // character-arithmetic replica (same ASCII caveat as
    // q26_frame_sample; empty docs produce no windows on either side).
    QueryDef(
      "q26_audio_windows",
      (s, dir) =>
        graft.operators.Multimodal.audioWindows(
          graft.operators.Multimodal.assetsFromDocuments(s, dir), 256)
          .orderBy("asset_id", "window_idx"),
      Some("""WITH d AS (
             |  SELECT doc_id, text,
             |         CAST((length(text) + 255) // 256 AS BIGINT) AS nw
             |  FROM documents WHERE length(text) > 0),
             |wins AS (SELECT doc_id, text, unnest(range(0, nw)) AS w FROM d),
             |s AS (SELECT doc_id, w,
             |        substring(text, CAST(w * 256 AS INTEGER) + 1, 256) AS sub
             |      FROM wins),
             |codes AS (SELECT doc_id, w, sub,
             |        [CAST(ascii(c) AS BIGINT)
             |         FOR c IN string_split(sub, '') IF c <> ''] AS cs
             |      FROM s)
             |SELECT doc_id AS asset_id, w AS window_idx,
             |  CAST(length(sub) AS BIGINT) AS n_samples,
             |  CAST(list_sum(cs) AS BIGINT) AS sum_amp,
             |  CAST(list_sum([c * c FOR c IN cs]) AS BIGINT) AS sum_sq,
             |  CAST(list_max(cs) AS BIGINT) AS peak
             |FROM codes ORDER BY asset_id, window_idx""".stripMargin)),

    // ------------------------------------------- REAL image decode (PPM)
    // The one image format decodable without external libraries: encode
    // GENUINE PPM (P6) files from a closed-form pixel function, round-
    // trip them through the zstd parquet binary column, parse them back
    // with the strict netpbm parser (operators/Multimodal.decodePpm),
    // and report per-channel sums. The oracle recomputes the sums
    // closed-form from the same pixel formula — any header-skip,
    // stride, or sign bug in the parser mismatches the hash. Scale:
    // encode and decode are both mapPartitions (map-only); the parquet
    // hop is the storage path any 100 TB media corpus takes.
    QueryDef(
      "q26_ppm_decode",
      (s, dir) => {
        import s.implicits._
        val W = 16
        val H = 12
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal.encodePpm(W, H,
            (x, y, c) => ((id * 31 + x * 7 + y * 13 + c * 101) % 256).toInt))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch("graft_q26_ppm.parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        graft.operators.Multimodal
          .decodePpmFeatures(s.read.parquet(out))
          .orderBy("asset_id")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, x.x, y.y
             |  FROM documents d, range(0, 16) x(x), range(0, 12) y(y)
             |  WHERE d.doc_id % 3 = 0)
             |SELECT doc_id AS asset_id,
             |  CAST(16 AS BIGINT) AS w, CAST(12 AS BIGINT) AS h,
             |  CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
             |  CAST(sum((doc_id * 31 + x * 7 + y * 13 + 101) % 256) AS BIGINT) AS sum_g,
             |  CAST(sum((doc_id * 31 + x * 7 + y * 13 + 202) % 256) AS BIGINT) AS sum_b
             |FROM px GROUP BY doc_id ORDER BY asset_id""".stripMargin)),

    // ------------------------------------------- REAL audio decode (WAV)
    // The audio sibling of q26_ppm_decode: genuine RIFF/PCM16-mono WAV
    // files encoded from a closed-form sample function, parquet
    // round-trip, then the strict RIFF chunk walker
    // (operators/Multimodal.decodeWavPcm16) parses them back and emits
    // per-64-sample-window exact integer stats. The oracle recomputes
    // the windows closed-form — an endianness, chunk-offset, or
    // sign-extension bug in the parser mismatches the hash. Encode and
    // decode are both map-only partition passes.
    QueryDef(
      "q26_wav_decode",
      (s, dir) => {
        import s.implicits._
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          val n = (200 + id % 57).toInt
          val samples = Array.tabulate(n) { i =>
            (((id * 131 + i.toLong * 17) % 65536) - 32768).toShort
          }
          (id, graft.operators.Multimodal.encodeWavPcm16(samples))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch("graft_q26_wav.parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        graft.operators.Multimodal
          .decodeWavWindows(s.read.parquet(out), 64)
          .orderBy("asset_id", "window_idx")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, 200 + doc_id % 57 AS n FROM documents
             |  WHERE doc_id % 3 = 1),
             |idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM a),
             |smp AS (SELECT doc_id, i,
             |          ((doc_id * 131 + i * 17) % 65536) - 32768 AS s
             |        FROM idx)
             |SELECT doc_id AS asset_id, CAST(i // 64 AS BIGINT) AS window_idx,
             |  count(*) AS n_samples,
             |  CAST(sum(s) AS BIGINT) AS sum_amp,
             |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
             |  CAST(max(abs(s)) AS BIGINT) AS peak_abs
             |FROM smp GROUP BY doc_id, i // 64
             |ORDER BY asset_id, window_idx""".stripMargin)),

    // -------------------------------------- REAL image resize (PPM)
    // The transform step between q26_ppm_decode's codec ends: decode →
    // nearest-neighbor 2x downscale → re-encode as P6 → decode again
    // (all map-only partition passes; the parquet storage hop is
    // covered by q26_ppm_decode). Output pixel (x,y) samples source
    // (2x,2y), so the oracle recomputes the downscaled channel sums
    // closed-form over the even source coordinates — an off-by-one in
    // the sampling grid or re-encode stride mismatches the hash.
    QueryDef(
      "q26_ppm_resize",
      (s, dir) => {
        import s.implicits._
        val W = 16
        val H = 12
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          (id, graft.operators.Multimodal.encodePpm(W, H,
            (x, y, c) => ((id * 31 + x * 7 + y * 13 + c * 101) % 256).toInt))
        }).toDF("asset_id", "payload")
        graft.operators.Multimodal.decodePpmFeatures(
          graft.operators.Multimodal.resizePpmAssets(assets, 2))
          .orderBy("asset_id")
      },
      Some("""WITH px AS (
             |  SELECT d.doc_id, x.x * 2 AS sx, y.y * 2 AS sy
             |  FROM documents d, range(0, 8) x(x), range(0, 6) y(y)
             |  WHERE d.doc_id % 3 = 2)
             |SELECT doc_id AS asset_id,
             |  CAST(8 AS BIGINT) AS w, CAST(6 AS BIGINT) AS h,
             |  CAST(sum((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT)
             |    AS sum_r,
             |  CAST(sum((doc_id * 31 + sx * 7 + sy * 13 + 101) % 256) AS BIGINT)
             |    AS sum_g,
             |  CAST(sum((doc_id * 31 + sx * 7 + sy * 13 + 202) % 256) AS BIGINT)
             |    AS sum_b
             |FROM px GROUP BY doc_id ORDER BY asset_id""".stripMargin)),

    // -------------------------------- image near-dup (perceptual hash)
    // The image-modality sibling of q22/q23: exact-dup text dedup keys
    // on a content hash; image corpora key on a PERCEPTUAL hash, because
    // re-encoded/re-exposed copies differ byte-wise but not visually.
    // Assets are genuine P6 images whose structure comes from a MOTIF
    // (doc_id mod 37 — motif-dependent x/y gradients mod 193) and whose
    // brightness from a per-asset offset (doc_id mod 7 × 8, max pixel
    // 192+48 < 256 so no clamping): visually, each motif re-exposed 7
    // ways. operators.Multimodal.dhash64 (integer luminance → 9×8 box
    // grid → adjacent-darker bits) is invariant to the brightness shift
    // by construction and separates distinct motifs, so grouping by the
    // 8-byte hash — ONE shuffle of 8-byte keys, never of image bytes,
    // the shape that dedups a 100 TB image corpus — recovers exactly
    // the motif clusters. The oracle is closed-form over doc ids: one
    // cluster per motif, represented by its lowest asset id. (At even
    // larger scale the same key feeds Hamming-ball multiprobe like
    // q24_ann_lsh's sign keys; exact-match buckets are the q22 tier.)
    QueryDef(
      "q71_image_neardup",
      (s, dir) => {
        import s.implicits._
        val W = 18
        val H = 16
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          val motif = id % 37
          val bright = (id % 7) * 8
          // coefficients sized so the mod-193 gradient WRAPS inside the
          // image for every motif — without wraps, low motifs are all
          // monotone left-to-right and dHash cannot tell them apart
          // (verified: 37/37 distinct hashes, brightness-invariant)
          val xc = (17 * motif + 23) % 193
          val yc = (29 * motif + 41) % 193
          (id, graft.operators.Multimodal.encodePpm(W, H,
            (x, y, c) => (((x * xc + y * yc + c * 3) % 193) + bright).toInt))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch(
          "graft_q71_ppm_" + graft.RunPaths.keyFor(dir) + ".parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        val hashed = s.read.parquet(out)
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, p) =>
            (id, graft.operators.Multimodal.dhash64(p)
              .getOrElse(sys.error(s"asset $id: malformed PPM")))
          }).toDF("asset_id", "dhash")
        hashed.groupBy(col("dhash"))
          .agg(min(col("asset_id")).as("cluster_rep"),
            count(lit(1)).as("n_members"))
          .select(col("cluster_rep"), col("n_members"))
          .orderBy("cluster_rep")
      },
      Some("""SELECT min(doc_id) AS cluster_rep,
             |       count(*) AS n_members
             |FROM documents WHERE doc_id % 3 = 2
             |GROUP BY doc_id % 37 ORDER BY cluster_rep""".stripMargin)),

    // ---------------------- image near-dup, Hamming tier (banded LSH)
    // q71's exact-hash buckets only catch variants the hash is exactly
    // invariant to; real image noise flips a FEW dHash bits, so the
    // production tier clusters within a Hamming ball. Banded LSH on the
    // 64-bit hash (4 × 16-bit bands): any pair within Hamming ≤ 3 has
    // ≤ 3 differing bands, hence ≥ 1 identical band (pigeonhole), so
    // the band equi-join is a COMPLETE candidate generator for the
    // threshold; candidates verify with one bit_count(xor) and edges
    // cluster via the same large-star/small-star components as text
    // near-dup — one shuffle of 2-byte band keys, one of verified
    // 8-byte-hash edges, never image bytes. Fixture is constructive:
    // each asset's image is RENDERED from a target bit pattern (per-row
    // ±1 luminance level walk whose adjacent-cell comparisons are the
    // pattern bits, so dhash64 recovers it exactly); motifs are a
    // 16×-repeated nibble code (cross-motif Hamming ≥ 16), noise flips
    // the first (id/48 mod 4) of 3 per-motif positions (nested → any
    // two variants of one motif are ≤ 3 apart, and id/48 VARIES within
    // a motif class where id%4 would not). Clusters therefore equal
    // motif groups EXACTLY at any sf, with a closed-form oracle; and
    // the verify threshold has real teeth — cross-motif noisy pairs sit
    // ≥ 14 apart, within-motif at ≤ 3 with 1,656 genuinely nonzero
    // pairs in the first 800 ids (simulated).
    QueryDef(
      "q72_image_neardup_hamming",
      (s, dir) => {
        import s.implicits._
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 2)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          val motif = (id % 16).toInt
          var pattern = 0L
          (0 until 16).foreach { k =>
            pattern |= motif.toLong << (4 * k)
          }
          // noise keys on id/48, NOT id%4: ids sharing a motif inside
          // one mod-3 class are congruent mod 48, so id%4 would give
          // every variant of a motif the SAME flips — zero within-motif
          // distance, a Hamming tier never exercised (round-10 finding,
          // caught building q77). id/48 varies per variant: simulated
          // 1,656 nonzero within-motif pairs at max Hamming 3,
          // cross-motif ≥ 14.
          (0 until ((id / 48) % 4).toInt).foreach { j =>
            pattern ^= 1L << ((motif * 7 + j * 13) % 64)
          }
          val bright = (id % 5).toInt * 8
          // per-row ±1 level walk realizing the pattern's comparisons
          val levels = Array.ofDim[Int](8, 9)
          (0 until 8).foreach { gy =>
            var lvl = 8
            levels(gy)(0) = lvl
            (0 until 8).foreach { gx =>
              lvl += (if ((pattern >> (gy * 8 + gx) & 1L) != 0) 1 else -1)
              levels(gy)(gx + 1) = lvl
            }
          }
          (id, graft.operators.Multimodal.encodePpm(18, 16,
            (x, y, _) => levels(y / 2)(x / 2) * 12 + bright))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch(
          "graft_q72_ppm_" + graft.RunPaths.keyFor(dir) + ".parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        val hashed = s.read.parquet(out)
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, p) =>
            (id, graft.operators.Multimodal.dhash64(p)
              .getOrElse(sys.error(s"asset $id: malformed PPM")))
          }).toDF("asset_id", "dhash")
        // exact tier FIRST (the q71 layer, made literal): identical
        // hashes collapse to one representative carrying the member
        // count, so the banded tier sees only DISTINCT hashes —
        // band-bucket size is bounded by the distinct-hash population
        // at ANY sf, not by duplicate multiplicity (banding the raw
        // corpus would blow every bucket past LshMaxBucket once a
        // motif class exceeds it, dropping even Hamming-0 edges).
        val uniq = hashed.groupBy(col("dhash"))
          .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("cnt"))
          .localCheckpoint() // hashed once; banding + verify + CC reuse it
        // capped postings-list banding (hammingBandPairs): one shuffle of
        // (band, key, id, hash), per-bucket pair expansion bounded by
        // LshMaxBucket with observed drop metrics — the q23 text tier's
        // discipline, because a band key is only 16 bits and an uncapped
        // join would expand O(n²/65536) pairs on a uniform image corpus
        val edges = hammingBandPairs(uniq, "rep", "dhash")
          .filter(expr("bit_count(ha ^ hb)") <= 3)
          .select(col("a"), col("b"))
        val vertices = uniq.select(col("rep").as("node"))
        DedupCluster.connectedComponents(vertices, edges)
          .join(uniq.select(col("rep").as("node"), col("cnt")), "node")
          .groupBy(col("cluster_id"))
          .agg(min(col("node")).as("cluster_rep"),
            sum(col("cnt")).as("n_members"))
          .select(col("cluster_rep"), col("n_members"))
          .orderBy("cluster_rep")
      },
      Some("""SELECT min(doc_id) AS cluster_rep,
             |       count(*) AS n_members
             |FROM documents WHERE doc_id % 3 = 2
             |GROUP BY doc_id % 16 ORDER BY cluster_rep""".stripMargin)),

    // ------------------------------ audio near-dup (energy fingerprint)
    // Closes the modality triangle: text (q22/q23), image (q71/q72),
    // and now audio. The fingerprint is the audio analogue of dHash —
    // the sign of adjacent WINDOW-ENERGY deltas over the real WAV
    // decode's per-window sum-of-squares (65 windows × 64 samples →
    // 64 bits). Energy scales with the SQUARE of amplitude, so a global
    // gain change (the re-mastered/re-encoded copy case) scales every
    // window equally and flips no sign: gain is to audio what exposure
    // is to images, and the fingerprint is invariant to it by
    // construction. The whole fingerprint is BUILT-IN codegen'd HOFs
    // (collect_list → array_sort → aggregate fold) over the decoded
    // feature table — no UDF — and clustering is one shuffle of 8-byte
    // fingerprints, never audio bytes. Fixture: 23 motif waveforms
    // (motif-dependent sawtooth period mod 89, verified 23/23 distinct
    // fingerprints) served at 4 gain levels; clusters equal motif
    // groups exactly, closed-form oracle.
    QueryDef(
      "q73_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val NW = 65
        val WS = 64
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          val motif = (id % 23).toInt
          val gain = (id % 4).toInt + 1
          // max sample 4500 × gain 4 = 18000 < 32767: no clipping, so
          // gain invariance is exact integer arithmetic
          val samples = Array.tabulate(NW * WS) { i =>
            ((((i.toLong * (motif * 11 + 13)) % 89) * 50 + 100) * gain).toShort
          }
          (id, graft.operators.Multimodal.encodeWavPcm16(samples))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch(
          "graft_q73_wav_" + graft.RunPaths.keyFor(dir) + ".parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        val prof = graft.operators.Multimodal
          .decodeWavWindows(s.read.parquet(out), WS)
          .groupBy(col("asset_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("window_idx"), col("sum_sq")))),
            w => w.getField("sum_sq")).as("es"))
        // 62 comparisons, not 64: the fold is acc*2+bit on a SIGNED
        // long under ANSI mode, so the fingerprint must stay under 63
        // bits (motif distinctness re-verified at 62)
        prof.select(col("asset_id"),
            aggregate(sequence(lit(1), lit(62)), lit(0L),
              (acc, w) => acc * 2 + when(element_at(col("es"), w + 1) >
                element_at(col("es"), w), 1L).otherwise(0L)).as("afp"))
          .groupBy(col("afp"))
          .agg(min(col("asset_id")).as("cluster_rep"),
            count(lit(1)).as("n_members"))
          .select(col("cluster_rep"), col("n_members"))
          .orderBy("cluster_rep")
      },
      Some("""SELECT min(doc_id) AS cluster_rep,
             |       count(*) AS n_members
             |FROM documents WHERE doc_id % 3 = 1
             |GROUP BY doc_id % 23 ORDER BY cluster_rep""".stripMargin)),

    // ---------------------- audio near-dup, Hamming tier (banded LSH)
    // q73's energy fingerprint dedups exact-bucket only — the gain-
    // invariance case. Real re-encodes also PERTURB a few windows,
    // flipping a few fingerprint bits; this tier clusters within a
    // Hamming ball over the SAME 62-bit energy-delta fingerprint,
    // through the SAME capped postings-list generator as the image tier
    // (hammingBandPairs: one shuffle of (band, key, id, fp), buckets
    // over LshMaxBucket dropped before pair expansion with observed
    // metrics) — all three modalities now share one candidate
    // discipline. Fixture is constructive like q72's: each asset's
    // per-window sample LEVELS realize a ±1 walk whose adjacent
    // energy comparisons are the target bit pattern (levels stay
    // positive, so energy order = level order and the fingerprint
    // recovers the pattern exactly; simulated: walk ∈ [8,132],
    // max sample 6600 < 32767). Motifs are a 15×-repeated nibble code;
    // noise flips the first (id/48 mod 4) of 3 per-motif positions —
    // id/48 VARIES within a motif class (id%4 would not: ids sharing
    // id%16 inside one mod-3 class are congruent mod 48), so variants
    // sit at genuine Hamming 1–3 (simulated: 936 nonzero within-motif
    // pairs, max 3) while cross-motif pairs stay ≥ 13. Clusters equal
    // motif groups exactly at any sf — closed-form oracle.
    QueryDef(
      "q77_audio_neardup_hamming",
      (s, dir) => {
        import s.implicits._
        val NW = 63
        val WS = 64
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")).as[Long]
        val assets = ids.mapPartitions(_.map { id =>
          val motif = (id % 16).toInt
          val noise = ((id / 48) % 4).toInt
          var pattern = 0L
          (0 until 15).foreach { k =>
            pattern |= motif.toLong << (4 * k)
          }
          (0 until noise).foreach { j =>
            pattern ^= 1L << ((motif * 7 + j * 13) % 62)
          }
          // 63 window levels: a ±1 walk realizing the pattern's
          // adjacent-energy comparisons; all levels positive, so
          // sum-of-squares order equals level order
          var lvl = 70
          val samples = Array.ofDim[Short](NW * WS)
          (0 until NW).foreach { w =>
            if (w > 0)
              lvl += (if ((pattern >> (w - 1) & 1L) != 0) 1 else -1)
            val v = (lvl * 50).toShort
            java.util.Arrays.fill(samples, w * WS, (w + 1) * WS, v)
          }
          (id, graft.operators.Multimodal.encodeWavPcm16(samples))
        }).toDF("asset_id", "payload")
        val out = graft.RunPaths.scratch(
          "graft_q77_wav_" + graft.RunPaths.keyFor(dir) + ".parquet")
        assets.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        val prof = graft.operators.Multimodal
          .decodeWavWindows(s.read.parquet(out), WS)
          .groupBy(col("asset_id"))
          .agg(transform(
            array_sort(collect_list(struct(col("window_idx"), col("sum_sq")))),
            w => w.getField("sum_sq")).as("es"))
        val hashed = prof.select(col("asset_id"),
            aggregate(sequence(lit(1), lit(62)), lit(0L),
              (acc, w) => acc * 2 + when(element_at(col("es"), w + 1) >
                element_at(col("es"), w), 1L).otherwise(0L)).as("afp"))
        // exact tier FIRST: identical fingerprints collapse to one
        // representative (min id) carrying the member count, and the
        // Hamming tier bands only DISTINCT hashes — so band-bucket size
        // is bounded by the distinct-hash population (≤ 64 here at ANY
        // sf), not by duplicate multiplicity. Banding the raw corpus
        // would blow every band bucket past LshMaxBucket once a motif
        // class exceeds it (~12k docs for this fixture), dropping even
        // Hamming-0 edges and breaking the closed-form oracle; at real
        // scale the same layering is simply q71-then-q72.
        val uniq = hashed.groupBy(col("afp"))
          .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("cnt"))
          .localCheckpoint() // hashed once; banding + CC reuse it
        val edges = hammingBandPairs(uniq, "rep", "afp")
          .filter(expr("bit_count(ha ^ hb)") <= 3)
          .select(col("a"), col("b"))
        val vertices = uniq.select(col("rep").as("node"))
        DedupCluster.connectedComponents(vertices, edges)
          .join(uniq.select(col("rep").as("node"), col("cnt")), "node")
          .groupBy(col("cluster_id"))
          .agg(min(col("node")).as("cluster_rep"),
            sum(col("cnt")).as("n_members"))
          .select(col("cluster_rep"), col("n_members"))
          .orderBy("cluster_rep")
      },
      Some("""SELECT min(doc_id) AS cluster_rep,
             |       count(*) AS n_members
             |FROM documents WHERE doc_id % 3 = 0
             |GROUP BY doc_id % 16 ORDER BY cluster_rep""".stripMargin)),

    // ------------------ video near-dup (frame-sequence Hamming tier)
    // Completes the modality ladder: text (q22/q23), image (q71/q72),
    // audio (q73/q77), and now FRAME SEQUENCES. Each asset is a real
    // 8-frame video stand-in (one P6 image per frame, the q26 frame
    // model made literal); per-frame dHash (exposure-invariant) feeds
    // Multimodal.frameSequenceSignature — an ORDER-SENSITIVE positional
    // fold (frame f owns signature bits 7f..7f+6), so a re-cut of the
    // same frames does NOT collide while per-frame noise flips only
    // that frame's window (order sensitivity + bit locality spec'd in
    // MultimodalSpec). Exact tier first (identical signatures collapse
    // to a min-id representative, so band buckets are bounded by the
    // DISTINCT-signature population at any sf — the q72/q77 layering),
    // then the SAME capped hammingBandPairs generator + CC as every
    // other modality: one shuffle of per-frame 8-byte hashes, one of
    // band keys, one of verified edges — never frame bytes. Fixture is
    // constructive (q82Pattern/q82Frame, simulated: within-motif <= 3,
    // cross-motif >= 12, walk in range), so clusters equal motif
    // groups exactly at any sf — closed-form oracle.
    QueryDef(
      "q82_video_neardup_hamming",
      (s, dir) => {
        import s.implicits._
        val F = 8
        val ids = t(s, dir, "documents")
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id")).as[Long]
        val frames = ids.mapPartitions(_.flatMap { id =>
          val pattern = q82Pattern(id)
          val bright = (id % 5).toInt * 8
          (0 until F).iterator.map { f =>
            (id, f.toLong, q82Frame(pattern, f, bright))
          }
        }).toDF("asset_id", "frame_idx", "payload")
        val out = graft.RunPaths.scratch(
          "graft_q82_frames_" + graft.RunPaths.keyFor(dir) + ".parquet")
        frames.write.mode("overwrite")
          .option("compression", "zstd").parquet(out)
        val perFrame = s.read.parquet(out)
          .as[(Long, Long, Array[Byte])]
          .mapPartitions(_.map { case (id, f, p) =>
            (id, f, graft.operators.Multimodal.dhash64(p)
              .getOrElse(sys.error(s"asset $id frame $f: malformed PPM")))
          }).toDF("asset_id", "frame_idx", "fh")
        val hashed = graft.operators.Multimodal
          .frameSequenceSignature(perFrame, "asset_id", "frame_idx", "fh")
        val uniq = hashed.groupBy(col("vfp"))
          .agg(min(col("asset_id")).as("rep"), count(lit(1)).as("cnt"))
          .localCheckpoint() // hashed once; banding + CC reuse it
        val edges = hammingBandPairs(uniq, "rep", "vfp")
          .filter(expr("bit_count(ha ^ hb)") <= 3)
          .select(col("a"), col("b"))
        val vertices = uniq.select(col("rep").as("node"))
        DedupCluster.connectedComponents(vertices, edges)
          .join(uniq.select(col("rep").as("node"), col("cnt")), "node")
          .groupBy(col("cluster_id"))
          .agg(min(col("node")).as("cluster_rep"),
            sum(col("cnt")).as("n_members"))
          .select(col("cluster_rep"), col("n_members"))
          .orderBy("cluster_rep")
      },
      Some("""SELECT min(doc_id) AS cluster_rep,
             |       count(*) AS n_members
             |FROM documents WHERE doc_id % 3 = 1
             |GROUP BY doc_id % 16 ORDER BY cluster_rep""".stripMargin))
  )
}
