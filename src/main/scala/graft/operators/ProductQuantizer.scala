package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{LutSumF, VectorFns}

/** Product quantization for embedding search (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): split
  * each d-dim vector into `m` subvectors, k-means each subspace
  * independently, and store a vector as `m` small centroid ids. The
  * codes table is ~8× smaller than the float vectors at the house
  * geometry (HouseM byte-range ids vs 256 B of floats for d=64; the
  * ratio is the recall/size knob — see [[HouseM]]), which is what
  * makes 100 TB of embeddings scannable:
  * queries score CODES, not vectors, via an asymmetric-distance lookup
  * table (ADC) built from the query alone.
  *
  * Scale shape of each phase:
  *   - train: joint Lloyd's across all m subspaces in the same two
  *     declarative passes as [[KMeans]] (assign via broadcast codebook
  *     join + per-(vector, subspace) argmin window; recompute via
  *     posexplode + avg). The codebook stays O(m·ksub·d/m) = O(ksub·d)
  *     — broadcastable for any practical setting.
  *   - encode: one broadcast join + window argmin + collect_list per
  *     vector — a single shuffle on the vector id.
  *   - search: the LUT is m·ksub doubles built from ONE query vector
  *     (collected to the driver like any trained model, then shipped as
  *     a literal); scoring is [[graft.functions.LutSumF]], a codegen'd
  *     map over the codes scan with NO join and NO shuffle — the only
  *     exchange in the plan is the final top-k (TakeOrderedAndProject
  *     keeps k rows per partition).
  *
  * Codebook ids are GLOBAL dense ranks (sub-space offsets pre-added),
  * so a code array indexes one flat LUT and dead cells (standard
  * Lloyd's-with-drop, see KMeans) leave no holes. Determinism: init is
  * id-modulus selection, argmin ties break on the lower cell id;
  * centroid VALUES remain floating-point-summation-order dependent
  * (like KMeans), so query-level verification pins structural
  * invariants, not coordinates.
  */
object ProductQuantizer {

  /** House IVF-PQ geometry for the shared graft index family — every
    * index the q68/q95–q100 serve stack, the streaming lifecycle, and
    * the audits build. MEASURED, not assumed (tools/pq_tune_r16.json —
    * the complete 9-variant artifact, re-run per the r15 verdict:
    * sf0.1, 25 queries, exhaustive-ADC recall@10 — the quantizer's own
    * ceiling with probing removed): the r14 geometry m=8/every=40
    * scored 0.252; m=16 at the same codebook budget 0.412; doubling
    * the codebook (every=20 → ksub up to 250, still byte-codable)
    * lifted that to 0.504; m=32 on the doubled codebook 0.744 — 3.0×
    * the r14 ceiling. The stated cost is code width: 32 byte-range
    * ids per vector instead of 8, still 8× smaller than the 256 B raw
    * floats — and the index build time is measured FLAT at test SF
    * (the encode's broadcast-join fan-out is not the bottleneck
    * there). Also measured and REJECTED: a third Lloyd iteration
    * (flat) and an OPQ-style deterministic Hadamard rotation (neutral
    * at every m — the synthetic corpus has no coordinate correlation
    * for a rotation to spread; SCALING.md records the measurement for
    * corpora that do).
    */
  val HouseM = 32
  val HouseEvery = 20

  /** House SERVING operating point — the nProbe the benched serve
    * entries (q68/q96/q97/q99/q100/q102) run at. PICKED FROM THE
    * MEASURED CURVE, not assumed (r15 verdict #3; the r15 entries
    * hardcoded nProbe=4, which delivers 0.276 recall@10 against the
    * quantizer's 0.712 exhaustive ceiling — a point nobody would
    * ship). tools/recall_audit_r16.json (sf0.1, 25 queries, K=50
    * cells, k=10): p=4 → 0.276 ADC / 0.284 refined; p=12 → 0.472 /
    * 0.528 (the minimum ≥0.5 point); **p=16 → 0.564 ADC / 0.652
    * refined**; p=24 → 0.644 / 0.816; exhaustive 0.712 / 0.992.
    * Measured single-query latency moves 0.302 s → 0.346 s (+15 %) —
    * the fixed costs dominate at test SF, while at scale the probed
    * fraction is nProbe/K of the postings (16/256 = 6 % at the
    * codebook cap, vs this corpus's under-cap K=50). p=16 is adopted
    * because the ADC-ONLY serve entries (q68, q97_sharded) clear 0.5
    * without the refine tier, and the refined entries ride the
    * steepest part of the refine curve (0.652) at the same scan
    * budget. The q95 policy's row budget derives from this same
    * constant, so filtered serving holds the unfiltered operating
    * point's I/O cost by construction.
    */
  val HouseNProbe = 16

  /** Explode vectors into (id, sub_id, sv: array<double>) subvectors.
    * Subvector length is size(vec)/m; a ragged trailing remainder (d not
    * divisible by m) is dropped by slice semantics — callers use m | d.
    */
  def subvectors(data: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    val subLen = (size(col(vecCol)) / m).cast("int")
    data
      .select(col(idCol), col(vecCol))
      .select(col(idCol), explode(sequence(lit(0), lit(m - 1))).as("sub_id"),
        col(vecCol))
      .select(col(idCol), col("sub_id"),
        transform(
          slice(col(vecCol), col("sub_id") * subLen + 1, subLen),
          _.cast("double")).as("sv"))
  }

  /** Squared-L2 nearest codebook row per (vector, subspace). Input
    * `books`: (sub_id, code, cv). Output: (idCol, sub_id, code, sv).
    */
  private def assignCells(sv: DataFrame, idCol: String, books: DataFrame): DataFrame = {
    val dist = VectorFns.normSq(col("sv")) -
      lit(2.0) * VectorFns.dot(col("sv"), col("cv")) +
      VectorFns.normSq(col("cv"))
    val w = Window.partitionBy(col(idCol), col("sub_id"))
      .orderBy(col("__d").asc, col("code").asc)
    sv.join(broadcast(books), "sub_id")
      .withColumn("__d", dist)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("sub_id"), col("code"), col("sv"))
  }

  /** Train per-subspace codebooks: (sub_id, code: bigint, cv:
    * array<double>) with `code` a global dense rank across all
    * subspaces. Init takes every id ≡ 1 (mod `every`) vector's
    * subvectors as seed centroids (ksub ≈ n/every per subspace).
    *
    * ksub is CAPPED at `maxCodes` (default 256 — the byte-codable
    * codebook size PQ exists for): an uncapped n/every init grows the
    * per-subspace codebook with the corpus, making the assign pass
    * O(n²/every) (the round-8 scale rehearsal measured the uncapped
    * IVF sibling at 19.6× time for 10× data) and the codes wider than
    * a byte. `every` is widened so n/every ≤ maxCodes; below ~10k
    * vectors the cap never binds, so test-SF codebooks are unchanged.
    */
  def train(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      every: Int,
      iters: Int,
      maxCodes: Int = 256,
      // pass the row count when the caller already knows it: counting
      // here would EXECUTE `data`'s whole lineage once extra, and on
      // the residual path that lineage is the coarse-assignment
      // cross-join — roughly doubling the most expensive build phase
      knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0) knownCount else data.select(idCol).count()
    val cappedEvery =
      math.max(every.toLong, (n + maxCodes - 1) / maxCodes).toInt
    val sv = subvectors(data, idCol, vecCol, m)
    var books = sv.filter(pmod(col(idCol), lit(cappedEvery)) === 1)
      .select(col("sub_id"), col(idCol).cast("long").as("code"), col("sv").as("cv"))
    var i = 0
    while (i < iters) {
      // Each Lloyd iteration assigns via the same map-only PqEncodeF
      // kernel as [[encode]] (r17): the books of the previous round
      // are collected (model-scale) and the per-(id, sub) rank-window
      // shuffle of n·m·ksub rows is gone; the recompute aggregate
      // reads (sub_id, code, pos, x) straight off the vector scan.
      // Selected codes are row-for-row the window form's (the
      // ProductQuantizerSpec parity), subvector values are the same
      // slice expression, so the avg() groups are identical.
      val collected = collectBooks(books)
      val subLen = (size(col(vecCol)) / m).cast("int")
      books = data
        .select(col(vecCol),
          posexplode(graft.functions.PqEncodeF(col(vecCol), m, collected))
            .as(Seq("sub_id", "code")))
        .select(col("sub_id"), col("code"),
          posexplode(transform(
            slice(col(vecCol), col("sub_id") * subLen + 1, subLen),
            _.cast("double"))).as(Seq("pos", "x")))
        .groupBy(col("sub_id"), col("code"), col("pos"))
        .agg(avg(col("x")).as("mn"))
        .groupBy(col("sub_id"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          s => s.getField("mn")).as("cv"))
      i += 1
    }
    // Densify to global ids. The single-partition window is over the
    // CODEBOOK (m·ksub rows), never the data — same driver-scale object
    // as any trained model.
    books
      .withColumn("code",
        row_number().over(Window.orderBy(col("sub_id"), col("code"))).cast("long") - 1)
      .select(col("sub_id"), col("code"), col("cv"))
  }

  /** Collect a trained codebook table (sub_id, code, cv) as the
    * driver-scale model PqEncodeF bakes into the plan — the same
    * m·ksub-row collect [[lutFor]] already performs per query. cv
    * floats widen to double exactly as DotF widens them.
    */
  private def collectBooks(books: DataFrame): Array[(Int, Long, Array[Double])] =
    books.select(col("sub_id").cast("int"), col("code").cast("long"), col("cv"))
      .collect().map { r =>
        val s = r.getSeq[Any](2)
        val arr: Array[Double] =
          if (s == null || s.contains(null)) null
          else s.map {
            case d: Double => d
            case f: Float => f.toDouble
            case other => throw new IllegalArgumentException(
              s"codebook element of ${other.getClass}")
          }.toArray
        (r.getInt(0), r.getLong(1), arr)
      }

  /** Encode vectors as (idCol, codes: array<bigint>), codes ordered by
    * sub_id and carrying global ids — ready for [[adcTopK]]'s flat LUT.
    *
    * Map-only (r17): the codebooks are a trained model (m·ksub ≤
    * 32·256 rows), so they are collected once and the whole
    * explode → broadcast-join → per-(id, sub) rank window →
    * collect_list reassembly pipeline collapses into one codegen'd
    * [[graft.functions.PqEncodeF]] expression over the vector scan —
    * the n·m·ksub-row window shuffle is gone from every encode call
    * (the q84/q68 append path pays this per batch). Row-for-row
    * parity with the retained [[encodeViaJoin]] is pinned in
    * ProductQuantizerSpec.
    */
  def encode(data: DataFrame, idCol: String, vecCol: String, m: Int, books: DataFrame): DataFrame =
    data.select(col(idCol),
      graft.functions.PqEncodeF(col(vecCol), m, collectBooks(books)).as("codes"))

  /** The original join+window formulation of [[encode]] — retained as
    * the independently-derived reference the PqEncodeF kernel is
    * spec'd against. Not on any query path.
    */
  private[graft] def encodeViaJoin(
      data: DataFrame, idCol: String, vecCol: String, m: Int, books: DataFrame): DataFrame =
    assignCells(subvectors(data, idCol, vecCol, m), idCol, books)
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Flat ADC lookup table for one query vector: lut(code) = ‖q_sub −
    * cv_code‖² for the code's subspace. m·ksub doubles — collected to
    * the driver as the per-query "model" and shipped as a literal.
    */
  def lutFor(query: DataFrame, vecCol: String, m: Int, books: DataFrame): Array[Double] = {
    val qsv = subvectors(query.withColumn("__qid", lit(0)), "__qid", vecCol, m)
      .select(col("sub_id"), col("sv").as("qsv"))
    val dist = VectorFns.normSq(col("qsv")) -
      lit(2.0) * VectorFns.dot(col("qsv"), col("cv")) +
      VectorFns.normSq(col("cv"))
    val rows = books.join(qsv, "sub_id")
      .select(col("code"), dist.as("d"))
      .collect()
    val lut = new Array[Double](rows.length)
    rows.foreach(r => lut(r.getLong(0).toInt) = r.getDouble(1))
    lut
  }

  /** Top-k nearest codes by ADC distance: a codegen'd map over the codes
    * scan + TakeOrderedAndProject. Ties break on the id for determinism.
    */
  def adcTopK(codes: DataFrame, idCol: String, lut: Array[Double], k: Int): DataFrame =
    codes
      .withColumn("adc_dist", LutSumF(col("codes"), typedLit(lut.toSeq)))
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)

  // ------------------------------------------------------------ IVF-PQ
  // The billion-scale composition (Jégou et al. §V): coarse-quantize
  // every vector to a k-means cell, PQ-encode the RESIDUAL (v − cell
  // centroid) — residuals are tighter-distributed than raw vectors, so
  // the same codebook budget quantizes them more accurately — and at
  // query time scan only the nProbe nearest cells with a per-cell
  // lookup table built from the query's residual against that cell.

  /** Offline index build: returns (codes, books) where codes =
    * (cell_id, idCol, codes) and books the shared residual codebooks.
    * The residual subtraction is an interpreted zip_with — an offline,
    * once-per-corpus cost (the serving path never touches vectors).
    */
  def ivfPqEncode(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      every: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val residuals = residualsOf(data, idCol, vecCol, coarse)
    // count the BASE table (narrow scan), not the residuals, whose
    // lineage is the coarse-assignment cross-join
    val books = train(residuals, idCol, "rv", m, every, iters,
      knownCount = data.select(idCol).count())
    (encodeResiduals(residuals, idCol, m, books), books)
  }

  /** Just the residual-codebook training half of [[ivfPqEncode]] — for
    * index builds that persist the models FIRST and then encode with
    * the read-back frozen floats (q68), so every stored artifact is
    * self-consistent even though k-means averaging is not bit-stable
    * across executions.
    */
  def ivfPqTrainBooks(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      every: Int,
      iters: Int): DataFrame =
    train(residualsOf(data, idCol, vecCol, coarse), idCol, "rv", m, every,
      iters, knownCount = data.select(idCol).count())

  /** Encode `data` into an EXISTING index's FROZEN models: assign each
    * vector to its nearest frozen coarse cell, PQ-encode the residual
    * with the frozen codebooks — no training pass. This is the append
    * path of an incrementally maintained IVF-PQ index (q68): new
    * batches are encoded against the persisted models and unioned with
    * the stored codes, so index maintenance costs O(batch), not
    * O(corpus re-train). Returns (cell_id, idCol, codes), the same
    * shape [[ivfPqEncode]] produces.
    */
  def ivfPqEncodeWith(
      data: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame): DataFrame =
    encodeResiduals(residualsOf(data, idCol, vecCol, coarse), idCol, m, books)

  /** (cell_id, idCol, rv): per-vector residual against its nearest
    * coarse centroid.
    */
  private def residualsOf(
      data: DataFrame, idCol: String, vecCol: String, coarse: DataFrame): DataFrame =
    KMeans.assign(data, idCol, vecCol, coarse)
      .join(broadcast(coarse), "cell_id")
      .select(col("cell_id"), col(idCol),
        zip_with(col(vecCol), col("cv"), (x, c) => x.cast("double") - c).as("rv"))

  private def encodeResiduals(
      residuals: DataFrame, idCol: String, m: Int, books: DataFrame): DataFrame =
    // cell_id rides the kernel-encode projection directly (r17): the
    // previous encode + join-back re-ran the whole residual subtree
    // (coarse assign + zip_with) on BOTH sides of an id equi-join
    residuals.select(col("cell_id"), col(idCol),
      graft.functions.PqEncodeF(col("rv"), m, collectBooks(books)).as("codes"))

  /** IVF-PQ serving: rank the nProbe nearest coarse cells (tiny global
    * window over the centroid table), derive the query's PER-CELL
    * residual, build one LUT per probed cell — all declarative, the LUT
    * table is (nProbe × total_codes) doubles riding a broadcast — and
    * ADC-score only the codes in probed cells. At scale the codes table
    * is partitioned by cell_id so the probe join prunes partitions; the
    * scan side still never shuffles.
    */
  def ivfPqTopK(
      query: DataFrame,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      idCol: String,
      nProbe: Int,
      k: Int): DataFrame =
    ivfPqScores(query, vecCol, m, coarse, books, codes, idCol, nProbe)
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)

  /** Every probed row's ADC distance — [[ivfPqTopK]] without the final
    * top-k. Exposed so verification anchors can compare the COMPLETE
    * score surface of two plans instead of their top-k id sets: a
    * set comparison flaps when two rows' sums differ only in float
    * summation order at the rank-k boundary, while a per-row score
    * comparison within reassociation tolerance is stable (the
    * q24_ann_pq precedent).
    */
  def ivfPqScores(
      query: DataFrame,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      idCol: String,
      nProbe: Int): DataFrame = {
    val q = query.select(col(vecCol).as("qv"))
    val l2 = VectorFns.normSq(col("cv")) -
      lit(2.0) * VectorFns.dot(col("cv"), col("qv")) +
      VectorFns.normSq(col("qv"))
    // Probe selection is a top-nProbe over the coarse centroids: the
    // orderBy+limit form plans as TakeOrderedAndProject (no window, no
    // single-partition exchange) — tie-safe via the cell_id key.
    val probes = coarse.crossJoin(broadcast(q))
      .withColumn("qd", l2)
      .orderBy(col("qd").asc, col("cell_id").asc)
      .limit(nProbe)
      .select(col("cell_id"),
        zip_with(col("qv"), col("cv"), (x, c) => x.cast("double") - c).as("qr"))
    val luts = ivfPqLutRows(probes, m, books)
      .groupBy(col("cell_id"))
      .agg(transform(array_sort(collect_list(struct(col("code"), col("d")))),
        s => s.getField("d")).as("lut"))
    codes.join(broadcast(luts), "cell_id")
      .withColumn("adc_dist", LutSumF(col("codes"), col("lut")))
      .select(col(idCol), col("cell_id"), col("adc_dist"))
  }

  /** Cap under which the batch-serve helpers HINT a broadcast. The
    * LUT side is the only per-query state that is individually large
    * (m·ksub doubles ≈ 64 KB per (query, cell) row at house geometry),
    * so an unconditional hint — which Spark honors regardless of size
    * — would drive the driver out of memory at the "thousands of
    * queries per run" scale the batch entries exist for (r15 advice).
    * Past the cap the hint is simply omitted: the static plan falls
    * back to a shuffle join and AQE remains free to re-pick broadcast
    * from observed sizes.
    */
  val MaxHintedBroadcastBytes: Long = 256L << 20

  /** `df` with a broadcast hint iff the caller-estimated size is under
    * [[MaxHintedBroadcastBytes]].
    */
  private def hintIfSmall(df: DataFrame, estBytes: Long): DataFrame =
    if (estBytes <= MaxHintedBroadcastBytes) broadcast(df) else df

  /** BATCH IVF-PQ serving (q100_batch_serve): a whole query TABLE
    * answered in ONE declarative plan instead of Q driver round-trips.
    * Stages, all inside a single job graph:
    *
    *   1. probe selection per query: queries × broadcast centroids
    *     (Q·K rows), per-query rank window → nProbe cells each. The
    *     only per-query state is Q·nProbe (query-residual) rows.
    *   2. per-(query, cell) LUTs: ONE projected array expression per
    *     probe row against the driver-collected codebook literal (see
    *     [[ivfPqScoresBatch]]) — Q·nProbe rows of m·ksub doubles. The
    *     LUT table rides a broadcast only while its estimated bytes
    *     stay under [[MaxHintedBroadcastBytes]] (≈1 MB per 64 queries
    *     at house settings); for larger batches the hint is omitted,
    *     the join plans as a shuffle on cell_id, and AQE may still
    *     re-pick broadcast from the observed size — the driver is
    *     never forced to hold an arbitrarily large LUT table.
    *   3. scoring: codes ⋈ LUTs on cell_id — the codes scan never
    *     shuffles; each code row fans out only to the queries that
    *     probed its cell (the ADC work itself, Σ_q occupancy(probed)).
    *   4. per-query top-k via [[graft.functions.TopKNearest]] — a
    *     bounded-buffer partial aggregate whose map side reduces each
    *     partition to ≤ k rows per query BEFORE the exchange; the
    *     batch counterpart of the single-query TakeOrderedAndProject.
    *
    * Rankings use the same (adc_dist, id) total order as [[ivfPqTopK]]
    * and the same arithmetic path (argmin probes, zip_with residuals,
    * sorted-by-code LUT arrays, LutSumF fold), so for any qid the
    * batch answer equals the single-query answer — BatchServeSpec pins
    * this per query. Returns (qidCol, rank, idCol, adc_dist).
    *
    * `knownQ`: the batch size used to size-gate the LUT broadcast;
    * pass it when the caller already knows it, else it is counted
    * here (cheap: the query table is per-run input).
    */
  def ivfPqTopKBatch(
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      idCol: String,
      nProbe: Int,
      k: Int,
      knownQ: Long = -1L): DataFrame = {
    val scored = ivfPqScoresBatch(queries, qidCol, vecCol, m, coarse,
      books, codes, idCol, nProbe, knownQ)
    batchTopK(scored.select(col("__qid"), col(idCol), col("adc_dist")),
      qidCol, idCol, "adc_dist", k)
  }

  /** The scored stage of [[ivfPqTopKBatch]] — every (query, probed
    * code row) ADC distance, plus any `keepCols` carried through from
    * the codes table (metadata columns like the q95 label, so filtered
    * batch variants can apply per-query predicates AFTER the scoring
    * join without a second scan). Returns
    * (__qid, idCol, adc_dist, keepCols…).
    *
    * LUT construction is the single-query [[lutFor]] discipline made
    * batch-wide: the codebook is COLLECTED to the driver once (a
    * model-scale read, exactly like any trained model) and shipped as
    * a literal, so each (query, cell) LUT is ONE native kernel call
    * ([[graft.functions.LutBuildF]] — a codegen'd loop over the
    * codebook literal) on each of the Q·nProbe probe rows. Element
    * arithmetic and code indexing are bit-identical to the former
    * books-join formulation (same in-order folds and combine order,
    * LUT indexed by global code), but with no m·ksub-fanout join, no
    * groupBy and no per-group array sort — the r16 profile measured
    * that join as the ONLY 10×-growing stage of the whole batch
    * pipeline (2.10×: the codebook widening toward its 256 cap
    * multiplied a 2M-row explosion), and measured the first
    * replacement attempt (a `transform` HOF over the literal) 3×
    * WORSE at base — interpreted per-element lambdas, the
    * VectorKernels trap. The kernel form is the one that is both
    * flat and fast.
    */
  def ivfPqScoresBatch(
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      idCol: String,
      nProbe: Int,
      knownQ: Long = -1L,
      keepCols: Seq[String] = Nil): DataFrame = {
    val nQ = if (knownQ >= 0) knownQ else queries.count()
    // the codebook as a driver-side model: (code, sub_id, cv) sorted
    // by the global dense code, so lut(code) indexes the literal
    val bookRows = books.select(col("code").cast("long"),
        col("sub_id").cast("int"), col("cv"))
      .collect().sortBy(_.getLong(0))
    require(bookRows.nonEmpty &&
      bookRows.zipWithIndex.forall { case (r, i) => r.getLong(0) == i },
      "ivfPqScoresBatch: codebook codes must be dense 0..n-1 global " +
        "ranks (the train() contract) — stale or foreign books table")
    val lutLen = bookRows.length
    // 8 B per double + array/row overhead, per (query, cell) LUT row
    val lutBytes = nQ * nProbe * (lutLen * 8L + 64)
    val subLit = typedLit(bookRows.map(_.getInt(1)).toSeq)
    val cvLit = typedLit(bookRows.map(_.getSeq[Double](2)).toSeq)
    val qs = queries.select(col(qidCol).as("__qid"), col(vecCol).as("qv"))
    val l2 = VectorFns.normSq(col("cv")) -
      lit(2.0) * VectorFns.dot(col("cv"), col("qv")) +
      VectorFns.normSq(col("qv"))
    // per-query probe ranking: the window partitions by query id, so
    // no single-partition exchange — Q·K rows total, model-scale × Q
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("qd").asc, col("cell_id").asc)
    val probes = qs.crossJoin(broadcast(coarse))
      .withColumn("qd", l2)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nProbe)
      .select(col("__qid"), col("cell_id"),
        zip_with(col("qv"), col("cv"), (x, c) => x.cast("double") - c)
          .as("qr"))
    val luts = probes
      .select(col("__qid"), col("cell_id"),
        graft.functions.LutBuildF(col("qr"), subLit, cvLit).as("lut"))
    codes.join(hintIfSmall(luts, lutBytes), "cell_id")
      .select((Seq(col("__qid"), col(idCol),
        LutSumF(col("codes"), col("lut")).as("adc_dist")) ++
        keepCols.map(col)): _*)
  }

  /** Per-query bounded top-k over a scored batch frame — the
    * [[graft.functions.TopKNearest]] partial aggregate (map side keeps
    * ≤ k rows per query per partition BEFORE the exchange) plus rank
    * attachment. Input must carry `__qid`; returns
    * (qidCol, rank, idCol, distCol).
    */
  def batchTopK(
      scored: DataFrame, qidCol: String, idCol: String, distCol: String,
      k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKNearest(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.DistId]())
    scored.groupBy(col("__qid"))
      .agg(topk(col(distCol), col(idCol)).as("top"))
      .select(col("__qid").as(qidCol),
        posexplode(col("top")).as(Seq("__pos", "__t")))
      .select(col(qidCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as(idCol), col("__t.dist").as(distCol))
  }

  /** Per-query-LABEL filtered batch ADC top-k — [[ivfPqTopKBatch]]
    * generalized to a metadata-carrying codes layout (q95's label
    * column on q97's sharded stack): each query retrieves only rows
    * matching ITS OWN label. The label test rides the scoring join's
    * output — the (qid, label) pairs are a broadcast-joined Q-row
    * frame, so no second scan and no shuffle of the codes side; the
    * caller is expected to ALSO push the union-of-labels In-list into
    * the scan it passes as `codes` (plan-required in q102, the q95
    * pushdown discipline), so the scan reads only rows SOME query
    * wants and the per-query equality here exactifies within that.
    * Returns (qidCol, rank, idCol, adc_dist).
    */
  def ivfPqTopKBatchFiltered(
      queries: DataFrame,
      qidCol: String,
      vecCol: String,
      labelCol: String,
      m: Int,
      coarse: DataFrame,
      books: DataFrame,
      codes: DataFrame,
      idCol: String,
      nProbe: Int,
      k: Int,
      knownQ: Long = -1L): DataFrame = {
    val scored = ivfPqScoresBatch(queries, qidCol, vecCol, m, coarse,
      books, codes, idCol, nProbe, knownQ,
      keepCols = Seq(labelCol))
    val qlabels = queries
      .select(col(qidCol).as("__qid"), col(labelCol).as("__qlabel"))
    val nQ = if (knownQ >= 0) knownQ else queries.count()
    val matched = scored
      .join(hintIfSmall(qlabels, nQ * 64), "__qid")
      .filter(col(labelCol) === col("__qlabel"))
    batchTopK(matched.select(col("__qid"), col(idCol), col("adc_dist")),
      qidCol, idCol, "adc_dist", k)
  }

  /** Batch exact re-rank — the refine stage of [[ivfPqTopKBatch]]'s
    * pipeline, still with NO per-query driver loop: the (query,
    * candidate) pairs and the query vectors ride broadcasts while the
    * batch stays under [[MaxHintedBroadcastBytes]] (size-gated on Q —
    * r15 advice: an unconditional hint is honored at ANY size and
    * would OOM the driver at the thousands-of-queries scale; past the
    * gate the hint is omitted and AQE picks the strategy), the
    * raw-vector side is ONE scan map-side-filtered by the candidate
    * hash join (never shuffled), and the per-query exact top-k is the
    * same bounded-buffer partial aggregate as stage 1. The scan-shape
    * tradeoff vs the single-query path is deliberate and documented:
    * one query prunes rowgroups with a literal In-list
    * (q96_refine_serve); Q queries' candidates blanket the id space,
    * so the batch fetch is one full raw scan AMORTIZED over all Q
    * queries — scan/Q per query, which is the batch win the entry
    * exists to price. Returns (qidCol, rank, idCol, exact_dist).
    *
    * `knownQ`: batch size for the broadcast gates (counted from
    * `queries` when not passed). Per-query sizes are conservative
    * constants — ≤4 KB of candidate pairs and ≤1 KB of query vector —
    * so the gate errs toward shuffling, never toward an oversized hint.
    */
  def exactRerankBatch(
      candidates: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      knownQ: Long = -1L): DataFrame = {
    val nQ = if (knownQ >= 0) knownQ else queries.count()
    val qs = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("qv"))
    val cand = candidates.select(col(qidCol).as("__cqid"), col(idCol))
    val topk = udaf(new graft.functions.TopKNearest(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.DistId]())
    raw.join(hintIfSmall(cand, nQ * 4096), idCol)
      .join(hintIfSmall(qs, nQ * 1024), col("__cqid") === col("__qid"))
      .select(col("__qid"), col(idCol),
        (VectorFns.normSq(col(vecCol)) -
          lit(2.0) * VectorFns.dot(col(vecCol), col("qv")) +
          VectorFns.normSq(col("qv"))).as("exact_dist"))
      .groupBy(col("__qid"))
      .agg(topk(col("exact_dist"), col(idCol)).as("top"))
      .select(col("__qid").as(qidCol),
        posexplode(col("top")).as(Seq("__pos", "__t")))
      .select(col(qidCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as(idCol), col("__t.dist").as("exact_dist"))
  }

  /** Exact re-rank (the FAISS-style "refine" stage): re-score an ADC
    * candidate set against the RAW vectors and return the exact top-k.
    * Two-stage retrieval is how a 100 TB store buys back the recall the
    * quantizer gave away: stage 1 scans CODES (~8× smaller) for a
    * candidate set of m ≈ 4k ids, stage 2 fetches only those m raw
    * vectors and ranks them by true squared L2.
    *
    * The candidate id set is tiny by construction (bounded by the
    * stage-1 limit), so the fetch is a broadcast LEFT SEMI join against
    * the raw table — no shuffle of the big side; with the raw vectors
    * stored id-sorted the fetch is additionally a rowgroup-pruned scan
    * (the q96_refine_serve layout). The total order everywhere is
    * (distance, id), which is what makes the refine guarantee a
    * theorem: every exact-top-k member that survives stage 1 outranks
    * every non-member inside the candidate set under the SAME order,
    * so refine recall ≥ ADC recall on every instance, not on average.
    */
  def exactRerank(
      candidates: DataFrame,
      raw: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      qCol: String,
      k: Int): DataFrame = {
    val q = query.select(col(qCol).as("qv")).limit(1)
    raw.join(broadcast(candidates.select(col(idCol))), Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol),
        (VectorFns.normSq(col(vecCol)) -
          lit(2.0) * VectorFns.dot(col(vecCol), col("qv")) +
          VectorFns.normSq(col("qv"))).as("exact_dist"))
      .orderBy(col("exact_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** (cell_id, code, d): partial distance of each probed cell's query
    * residual subvector to each codebook entry. Exposed for independent
    * re-scoring in verification.
    */
  def ivfPqLutRows(probes: DataFrame, m: Int, books: DataFrame): DataFrame = {
    val qsv = subvectors(probes, "cell_id", "qr", m)
      .select(col("cell_id"), col("sub_id"), col("sv").as("qsv"))
    books.join(qsv, "sub_id")
      .select(col("cell_id"), col("code"),
        (VectorFns.normSq(col("qsv")) -
          lit(2.0) * VectorFns.dot(col("qsv"), col("cv")) +
          VectorFns.normSq(col("cv"))).as("d"))
  }
}
