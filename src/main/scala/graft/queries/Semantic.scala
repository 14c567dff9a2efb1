package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFns, VectorFns}

/** Semantic-level corpus curation operators — the q44 family:
  * SemDeDup-style embedding deduplication, hybrid-retrieval rank
  * fusion, and the per-slice dataset card a data release ships with.
  *
  * All three are the shapes a 100 TB training-data pipeline actually
  * runs AFTER exact/near-dup text dedup: semantic dedup prunes
  * same-meaning-different-words documents by embedding similarity
  * inside coarse clusters (Abbas et al., "SemDeDup", 2023); hybrid
  * retrieval fuses lexical (BM25) and dense (cosine) rankings with
  * reciprocal-rank fusion (Cormack et al., SIGIR'09); the dataset card
  * is the one-scan summary table (counts, token mass, dup rate,
  * quality rate per source×lang) that gates a release.
  */
object Semantic {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Coarse deterministic cluster key: sign bits of the first 4
    * embedding components (16 buckets). A SQL-replicable stand-in for
    * the paper's k-means cell assignment — the pruning logic downstream
    * is identical, and at scale the key is swapped for the IVF cell id
    * (q24_ann_ivf) without touching the pair/drop stages.
    */
  private def signBucket(e: Column): Column =
    (0 until 4).map(i =>
      when(element_at(e, i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private val duckBucket: String =
    (0 until 4).map(i =>
      s"CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")

  /** SemDeDup pruning over `(vec_id: Long, embedding: Array[Float])`:
    * bucket by [[signBucket]], and within each bucket drop every vector
    * that has a lower-id neighbor with cosine >= `threshold`. Returns
    * the KEPT rows as `(vec_id, bucket)`. Exposed for unit testing —
    * `q44_semdedup` is exactly this at threshold 0.4.
    */
  def semdedup(e0: DataFrame, threshold: Double): DataFrame =
    semdedupBy(
      e0.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding")).as("bucket")),
      threshold)
      .select(col("vec_id"), col("bucket"))
      .orderBy("vec_id")

  /** The pruning stage of [[semdedup]], parameterized on a PRE-BUCKETED
    * `(vec_id, embedding, bucket)` input so one implementation serves
    * both cluster keys: the SQL-replicable sign buckets (q44_semdedup)
    * and the trained IVF cell ids (q60_semdedup_ivf) — the swap the
    * SemDeDup paper's k-means clustering corresponds to at scale. ONE
    * shuffle on the bucket key; pair work quadratic only within a
    * bucket, which cluster granularity bounds by construction. Returns
    * kept rows with their bucket and embedding.
    */
  def semdedupBy(e: DataFrame, threshold: Double): DataFrame = {
    val a = e.select(col("bucket"), col("vec_id").as("ia"),
      col("embedding").as("ea"))
    val b = e.select(col("bucket"), col("vec_id").as("ib"),
      col("embedding").as("eb"))
    val dropped = a.join(b, Seq("bucket"))
      .filter(col("ia") < col("ib"))
      .filter(round(VectorFns.cosine(col("ea"), col("eb")), 6) >= threshold)
      .select(col("ib").as("vec_id")).distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Distributed, tie-safe top-k ranking over `(id, <score>)`:
    * `orderBy(score desc, id asc).limit(k)` plans as
    * TakeOrderedAndProject — per-partition bounded heaps merged at the
    * driver, k rows moved — never a corpus-scale single-partition
    * window. The `row_number` window is then attached to the k-row
    * result only (driver-scale input, the same shape as
    * [[graft.operators.GlobalIndex]]'s offset table). Because limit(k)
    * preserves exactly the top-k of the SAME total order the window
    * re-sorts by, the ranks equal the global `row_number` at any
    * partition count. Exposed for unit testing.
    */
  def topKRanked(scored: DataFrame, score: String, rank: String, k: Int): DataFrame = {
    val order = Seq(col(score).desc, col("id").asc)
    scored.orderBy(order: _*).limit(k)
      .withColumn(rank, row_number().over(Window.orderBy(order: _*)))
  }

  /** Stage-0 featurization shared by q98_maxsim_rerank (from-raw) and
    * the q98_maxsim_serve layout build (persisted once): token-position
    * chunks of 32, signed md5 feature hashing into 16 buckets, integer
    * ±1 sums — (doc_id, chunk, bucket, v). Integer-exact and
    * md5-deterministic, which is what keeps BOTH the from-raw pipeline
    * and the persisted layouts VALUE-exact against the DuckDB oracle
    * (and each other: one implementation, no drift).
    */
  private[graft] def chunkVectors(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "w")))
      .select(
        col("doc_id"),
        floor(col("pos") / lit(32)).cast("long").as("chunk"),
        conv(substring(md5(col("w")), 1, 1), 16, 10).cast("long")
          .as("bucket"),
        when(conv(substring(md5(col("w")), 2, 1), 16, 10).cast("int") < 8,
          lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("doc_id"), col("chunk"), col("bucket"))
      .agg(sum(col("sgn")).as("v"))

  /** The MaxSim scoring tail shared by q98_maxsim_rerank and
    * q98_maxsim_serve: Σ_qchunk max_dchunk ⟨v, qv⟩ over candidate chunk
    * vectors `dcv` (doc_id, chunk, bucket, v) against query chunk
    * vectors `qcv` (qchunk, bucket, qv), with missing (qchunk, dchunk)
    * bucket overlaps scored as true dot-0 pairs via the materialized
    * pair frame — dropping that frame silently inflates negative-only
    * scores, the classic relational MaxSim bug, pinned in MaxSimSpec
    * by an independent in-process replica. Returns the top-k
    * (doc_id, maxsim), integer-exact.
    */
  private[graft] def maxSimTopK(
      dcv: DataFrame, qcv: DataFrame, qchunks: DataFrame, k: Int): DataFrame = {
    // ONE doc_id exchange feeds the whole scoring tail (r18): every
    // aggregate and the dot-0 left join below cluster on key sets that
    // CONTAIN doc_id, and since SPARK-35703 a hash partitioning on a
    // subset of the clustering/join keys satisfies all of them — so an
    // explicit repartition(doc_id) up front replaces the per-operator
    // exchanges (dots0 groupBy, pairs distinct, the 3-key join, the two
    // per-doc aggregates all run exchange-free on it). The two dcv legs
    // become byte-identical subtrees, so ReuseExchange materializes the
    // candidate chunk stream ONCE instead of re-running the fetch/
    // featurization per leg. Per-partition group state stays bounded:
    // a doc contributes ≤ 4096 chunks × 16 buckets. Values unchanged
    // (key-based aggregates; MaxSimSpec's replica pins equality).
    val d = dcv.repartition(col("doc_id"))
    val dots0 = d.join(broadcast(qcv), "bucket")
      .groupBy(col("doc_id"), col("chunk"), col("qchunk"))
      .agg(sum(col("v") * col("qv")).as("dot"))
    val pairs = d.select(col("doc_id"), col("chunk")).distinct()
      .crossJoin(broadcast(qchunks))
    pairs
      .join(dots0, Seq("doc_id", "chunk", "qchunk"), "left")
      .select(col("doc_id"), col("qchunk"),
        coalesce(col("dot"), lit(0L)).as("dot"))
      .groupBy(col("doc_id"), col("qchunk"))
      .agg(max(col("dot")).as("mx"))
      .groupBy(col("doc_id"))
      .agg(sum(col("mx")).as("maxsim"))
      .select(col("doc_id").cast("long").as("doc_id"),
        col("maxsim").cast("long").as("maxsim"))
      .orderBy(col("maxsim").desc, col("doc_id").asc)
      .limit(k)
  }

  private val maxSimLayoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The q98_maxsim_serve layouts, derived ONCE per (process, dir) from
    * the documents table — the batch featurization job a
    * late-interaction store runs at INGEST, so queries never touch raw
    * text (the r14 `weak`: q98's stage 1 re-derived corpus-scale chunk
    * vectors from text per query, measured data-linear at 3.74×/10×):
    *
    *   - `chunks`: (doc_id, chunk, bucket, v) id-range-partitioned and
    *     id-sorted, so the stage-2 candidate fetch (an In-list of ≤ m
    *     doc ids) and the query's own featurization read are
    *     rowgroup-pruned scans — the q96 raw_sorted pattern;
    *   - `pooled`: (cell, doc_id, bucket, pv) — per-doc pooled bucket
    *     sums carrying a coarse CELL key, cell-clustered so the stage-1
    *     probe is a pruned scan of nProbe cells, not a corpus scan.
    *
    * The cell key is the DETERMINISTIC sign pattern of pooled buckets
    * 0–3 (the q44_semdedup key: SQL-replicable, so the serve query
    * keeps a VALUE-exact DuckDB oracle; at scale the key swaps for a
    * trained IVF cell id exactly as q60 swaps q44's — same serve
    * stages, untouched). A bucket with no mass counts as sign+ (pv=0).
    */
  def ensureMaxSimServeLayout(s: SparkSession, dir: String): String =
    maxSimLayoutCache.computeIfAbsent(dir, _ => {
      val ms = graft.RunPaths.scratch(
        "graft_q98srv_" + graft.RunPaths.keyFor(dir))
      if (!new java.io.File(s"$ms/pooled/_SUCCESS").exists()) {
        chunkVectors(t(s, dir, "documents"))
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions(col("doc_id"), col("chunk"))
          .write.mode("overwrite").parquet(s"$ms/chunks")
        // pooled derives from the STORED chunks (read-back, the q68
        // persist-first discipline), so the two layouts are provably
        // views of one artifact
        val pool = s.read.parquet(s"$ms/chunks")
          .groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("v")).as("pv"))
        val cells = pool.groupBy(col("doc_id"))
          .agg((lit(15) - coalesce(sum(when(
              col("bucket") < 4 && col("pv") < 0,
              expr("shiftleft(1, cast(bucket as int))"))
            .otherwise(lit(0))), lit(0))).cast("int").as("cell"))
        pool.join(cells, "doc_id")
          .repartition(col("cell"))
          .sortWithinPartitions(col("cell"), col("doc_id"))
          .write.mode("overwrite").parquet(s"$ms/pooled")
      }
      ms
    })

  /** The q98_maxsim_serve pipeline against the persisted layouts,
    * parameterized on nProbe so the equivalence theorem — probing ALL
    * 16 cells reproduces the from-raw q98_maxsim_rerank ranking
    * id-for-id (MaxSimServeSpec) — is checkable while the registered
    * and benched query runs the probe-bounded production shape.
    *
    * Serve shape: ≤16-row query-pool read (rowgroup-pruned by doc_id),
    * driver-side probe ranking over the 16 sign cells (Hamming to the
    * query's cell — the IVF probe argmin, closed-form here), a PRUNED
    * scan of the probed pooled cells for stage-1 top-50 (plan-required
    * In(cell) pushdown), an In-list rowgroup-pruned fetch of the ≤50
    * candidates' chunk rows (plan-required, the q96 pattern), and the
    * integer-exact MaxSim tail over those rows. No step reads text;
    * no step scans unprobed cells.
    */
  def maxSimServe(s: SparkSession, dir: String, nProbe: Int, k: Int): DataFrame = {
    import s.implicits._
    val ms = ensureMaxSimServeLayout(s, dir)
    // untruncated plan metadata so the In-list pushdown requires below
    // can see their filters under any session config
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val pooled = s.read.parquet(s"$ms/pooled")
    val chunks = s.read.parquet(s"$ms/chunks")
    // qid from the DOCUMENTS table, not the pooled layout (r15 advice):
    // the oracle and the from-raw q98_maxsim_rerank both pick
    // min(doc_id) over documents, and a min-id document with empty
    // text has no chunk rows — pooled-min would silently pick a
    // DIFFERENT query doc there, while this choice fails loudly at the
    // qRows require below, exactly like the from-raw path.
    val qid = t(s, dir, "documents").agg(min(col("doc_id")))
      .collect()(0).getLong(0)
    // the query's pooled vector: ≤16 rows, the per-query "model"
    // (driver-scale by construction, like any ADC LUT)
    val qRows = chunks.filter(col("doc_id") === qid)
      .groupBy(col("bucket")).agg(sum(col("v")).as("qpv"))
      .collect()
    require(qRows.nonEmpty && qRows.length <= 16,
      s"q98_maxsim_serve: query doc $qid pooled to ${qRows.length} " +
        "buckets — outside (0, 16]; the chunks layout is corrupt")
    val qpv = qRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qcell = (0 until 4)
      .map(i => if (qpv.getOrElse(i.toLong, 0L) >= 0L) 1 << i else 0).sum
    // probe ranking over the 16 sign cells: Hamming distance to the
    // query's cell, ties on the cell id — closed-form and driver-side
    // because the cell universe is a constant, exactly as an IVF probe
    // ranks a broadcast centroid table
    val probed = (0 until 16)
      .sortBy(c => (Integer.bitCount(c ^ qcell), c)).take(nProbe)
    val probedPool = pooled.filter(col("cell")
      .isin(probed.map(c => c: java.lang.Integer): _*))
    val pplan = probedPool.queryExecution.executedPlan.toString
    val cellTok = if (nProbe == 1) "EqualTo(cell" else "In(cell"
    require(pplan.contains("PushedFilters") && pplan.contains(cellTok),
      "q98_maxsim_serve: the probe cell list did not reach the pooled " +
        "scan — stage 1 degrades to a corpus-scale pooled read")
    val qpool = qRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("bucket", "qpv")
    val cand = probedPool.filter(col("doc_id") =!= qid)
      .join(broadcast(qpool), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("pv") * col("qpv")).as("s1"))
      .orderBy(col("s1").desc, col("doc_id").asc)
      .limit(50)
    val candIds = cand.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSeq
    require(candIds.nonEmpty && candIds.size <= 50,
      s"q98_maxsim_serve: stage 1 returned ${candIds.size} candidates " +
        "— outside (0, 50]")
    val fetched = chunks
      .filter(col("doc_id") >= candIds.min &&
        col("doc_id") <= candIds.max &&
        col("doc_id").isin(candIds: _*))
    val fplan = fetched.queryExecution.executedPlan.toString
    val inTok =
      if (candIds.size == 1) "EqualTo(doc_id" else "In(doc_id"
    require(fplan.contains("PushedFilters") &&
      fplan.contains("GreaterThanOrEqual(doc_id") &&
      fplan.contains("LessThanOrEqual(doc_id") &&
      fplan.contains(inTok),
      "q98_maxsim_serve: the candidate doc-id In-list did not reach " +
        "the chunks scan — stage 2 degrades to a corpus-scale read")
    val qcv = chunks.filter(col("doc_id") === qid)
      .select(col("chunk").as("qchunk"), col("bucket"), col("v").as("qv"))
    val nq = qcv.select(col("qchunk")).distinct().count()
    require(nq >= 1 && nq <= 4096,
      s"q98_maxsim_serve: query doc $qid has $nq chunks — outside " +
        "(0, 4096]")
    val qchunks = qcv.select(col("qchunk")).distinct().limit(4096)
    maxSimTopK(
      fetched.select(col("doc_id"), col("chunk"), col("bucket"), col("v")),
      qcv, qchunks, k)
  }

  /** The TRAINED-IVF variant of the MaxSim serve layout (r15 verdict
    * #4): the sign-cell key caps probe selectivity at 1/16 of the
    * corpus — fine for a VALUE-exact oracle, wrong for a 100 TB store
    * where the probe should confine the scan to nProbe of HUNDREDS of
    * cells. This derives, beside the sign layout and from the SAME
    * stored chunks (read-back discipline — the two layouts are
    * provably views of one artifact):
    *
    *   - `ivf_cents`: k-means centroids over the densified 16-dim
    *     pooled vectors (operators.KMeans, the trainer every IVF index
    *     uses; init every 20th doc, capped at 256 cells — at sf0.1
    *     that is ~250 cells, 15× the sign key's probe resolution);
    *   - `pooled_ivf`: the pooled rows carrying their trained cell id,
    *     cell-clustered and cell-sorted so an In(cell_id) probe is a
    *     pushdown-pruned scan.
    *
    * MaxSimIvfSwapSpec proved the swap preserves the full-probe
    * ranking; this makes the trained key a PERSISTED serving layout
    * (q103_maxsim_ivf_serve) instead of a spec construction. The
    * models are persist-first and read back (the q68 self-consistency
    * pattern), since k-means floats are not bit-stable.
    */
  def ensureMaxSimIvfServeLayout(s: SparkSession, dir: String): String =
    maxSimLayoutCache.computeIfAbsent(dir + "#ivf", _ => {
      val ms = ensureMaxSimServeLayout(s, dir)
      if (!new java.io.File(s"$ms/pooled_ivf/_SUCCESS").exists()) {
        val pool = s.read.parquet(s"$ms/chunks")
          .groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("v")).as("pv"))
        val dense = pool.groupBy(col("doc_id"))
          .agg(transform(sequence(lit(0L), lit(15L)), b =>
            coalesce(element_at(
              map_from_entries(
                collect_list(struct(col("bucket"), col("pv")))),
              b), lit(0L)).cast("double")).as("pvec"))
          .localCheckpoint(true)
        val n = dense.count()
        val every = math.max(20L, (n + 255) / 256).toInt
        graft.operators.KMeans.fit(dense, "doc_id", "pvec",
            graft.operators.KMeans.initEvery(dense, "doc_id", "pvec",
              every), iters = 2)
          .write.mode("overwrite").parquet(s"$ms/ivf_cents")
        val centsF = s.read.parquet(s"$ms/ivf_cents")
        pool
          .join(graft.operators.KMeans.assign(dense, "doc_id", "pvec",
            centsF).select(col("doc_id"), col("cell_id")), "doc_id")
          .repartition(col("cell_id"))
          .sortWithinPartitions(col("cell_id"), col("doc_id"))
          .write.mode("overwrite").parquet(s"$ms/pooled_ivf")
      }
      ms
    })

  /** [[maxSimServe]] against the TRAINED-IVF layout
    * (q103_maxsim_ivf_serve): identical stages — ≤16-row query-pool
    * read, probe ranking against the centroid table (collected like
    * any trained model: K rows of 16 doubles), a pushdown-pruned scan
    * of the nProbe probed cells for stage-1 top-50, an In-list
    * rowgroup-pruned fetch of the candidates' chunk rows, and the
    * integer-exact MaxSim tail. Only the CELL KEY differs: trained
    * k-means cells whose count grows with the corpus (capped 256), so
    * probe selectivity is nProbe/K instead of the sign key's hard
    * 1/16 floor. Returns the (doc_id, maxsim) top-k, the probed cell
    * ids, and the two plan booleans for the caller's contract row.
    */
  def maxSimServeIvf(s: SparkSession, dir: String, nProbe: Int, k: Int)
      : (DataFrame, Seq[Long], Boolean, Boolean) = {
    import s.implicits._
    val ms = ensureMaxSimIvfServeLayout(s, dir)
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val pooled = s.read.parquet(s"$ms/pooled_ivf")
    val chunks = s.read.parquet(s"$ms/chunks")
    val qid = t(s, dir, "documents").agg(min(col("doc_id")))
      .collect()(0).getLong(0)
    val qRows = chunks.filter(col("doc_id") === qid)
      .groupBy(col("bucket")).agg(sum(col("v")).as("qpv"))
      .collect()
    require(qRows.nonEmpty && qRows.length <= 16,
      s"q103: query doc $qid pooled to ${qRows.length} buckets — " +
        "outside (0, 16]; the chunks layout is corrupt")
    val qpv = qRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qvec = Array.tabulate(16)(b => qpv.getOrElse(b.toLong, 0L).toDouble)
    // probe ranking against the trained centroids — a K-row model
    // read, exactly as an IVF probe ranks a broadcast centroid table
    val cents = s.read.parquet(s"$ms/ivf_cents").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(cents.nonEmpty, "q103: empty trained centroid table")
    val probed = cents
      .map { case (cid, cv) =>
        (cid, cv.zip(qvec).map { case (c, x) => (x - c) * (x - c) }.sum)
      }
      .sortBy { case (cid, d) => (d, cid) }
      .take(nProbe).map(_._1).toSeq
    val probedPool = pooled.filter(col("cell_id")
      .isin(probed.map(Long.box): _*))
    val pplan = probedPool.queryExecution.executedPlan.toString
    val cellTok =
      if (probed.size == 1) "EqualTo(cell_id" else "In(cell_id"
    val cellsPushed = pplan.contains("PushedFilters") &&
      pplan.contains(cellTok)
    require(cellsPushed,
      "q103: the trained probe cell list did not reach the pooled_ivf " +
        "scan — stage 1 degrades to a corpus-scale pooled read")
    val qpool = qRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.toDF("bucket", "qpv")
    val cand = probedPool.filter(col("doc_id") =!= qid)
      .join(broadcast(qpool), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("pv") * col("qpv")).as("s1"))
      .orderBy(col("s1").desc, col("doc_id").asc)
      .limit(50)
    val candIds = cand.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSeq
    require(candIds.nonEmpty && candIds.size <= 50,
      s"q103: stage 1 returned ${candIds.size} candidates — outside " +
        "(0, 50]")
    val fetched = chunks
      .filter(col("doc_id") >= candIds.min &&
        col("doc_id") <= candIds.max &&
        col("doc_id").isin(candIds: _*))
    val fplan = fetched.queryExecution.executedPlan.toString
    val inTok =
      if (candIds.size == 1) "EqualTo(doc_id" else "In(doc_id"
    val fetchPruned = fplan.contains("PushedFilters") &&
      fplan.contains("GreaterThanOrEqual(doc_id") &&
      fplan.contains("LessThanOrEqual(doc_id") &&
      fplan.contains(inTok)
    require(fetchPruned,
      "q103: the candidate doc-id In-list did not reach the chunks " +
        "scan — stage 2 degrades to a corpus-scale read")
    val qcv = chunks.filter(col("doc_id") === qid)
      .select(col("chunk").as("qchunk"), col("bucket"), col("v").as("qv"))
    val nq = qcv.select(col("qchunk")).distinct().count()
    require(nq >= 1 && nq <= 4096,
      s"q103: query doc $qid has $nq chunks — outside (0, 4096]")
    val qchunks = qcv.select(col("qchunk")).distinct().limit(4096)
    val top = maxSimTopK(
      fetched.select(col("doc_id"), col("chunk"), col("bucket"), col("v")),
      qcv, qchunks, k)
    (top, probed, cellsPushed, fetchPruned)
  }

  /** The MaxSim tail generalized over a QUERY column — the batch
    * counterpart of [[maxSimTopK]] (q101_batch_maxsim): every stage
    * carries `qid`, so one plan scores all queries' candidate sets at
    * once, and the per-query top-k is the bounded-buffer partial
    * aggregate (functions.TopKNearest on negated integer scores — the
    * (maxsim desc, doc_id asc) order expressed in the aggregator's
    * (dist asc, id asc) total order; integer-valued doubles negate
    * exactly below 2^53). Returns (qid, rank, doc_id, maxsim).
    */
  private[graft] def maxSimTopKBatch(
      dcv: DataFrame, qcv: DataFrame, qchunks: DataFrame, k: Int): DataFrame = {
    // ONE (qid, doc_id) exchange feeds the whole batch scoring tail —
    // the same SPARK-35703 subset-clustering collapse as maxSimTopK
    // (see there): dots0's groupBy, the pair distinct, the 4-key dot-0
    // join and both per-(qid, doc) aggregates all run exchange-free on
    // it, and ReuseExchange materializes the candidate chunk stream
    // once across the two legs.
    val d = dcv.repartition(col("qid"), col("doc_id"))
    val dots0 = d.join(broadcast(qcv), Seq("qid", "bucket"))
      .groupBy(col("qid"), col("doc_id"), col("chunk"), col("qchunk"))
      .agg(sum(col("v") * col("qv")).as("dot"))
    val pairs = d.select(col("qid"), col("doc_id"), col("chunk"))
      .distinct()
      .join(broadcast(qchunks), "qid")
    val scored = pairs
      .join(dots0, Seq("qid", "doc_id", "chunk", "qchunk"), "left")
      .select(col("qid"), col("doc_id"), col("qchunk"),
        coalesce(col("dot"), lit(0L)).as("dot"))
      .groupBy(col("qid"), col("doc_id"), col("qchunk"))
      .agg(max(col("dot")).as("mx"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("mx")).as("maxsim"))
    val topk = udaf(new graft.functions.TopKNearest(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.DistId]())
    scored.groupBy(col("qid"))
      .agg(topk((-col("maxsim")).cast("double"), col("doc_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("__pos", "__t")))
      .select(col("qid").cast("long").as("qid"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__t.id").as("doc_id"),
        (-col("__t.dist")).cast("long").as("maxsim"))
  }

  /** BATCH MaxSim serving (q101_batch_maxsim): a query TABLE of doc
    * ids answered through the SAME persisted layouts as
    * [[maxSimServe]] in ONE declarative two-stage plan — no per-query
    * driver loop:
    *
    *   - query featurization: one In-list rowgroup-pruned read of the
    *     qids' chunk rows (plan-REQUIRED), pooled per (qid, bucket) —
    *     ≤ Q·16 rows, the per-batch "model", kept in the plan;
    *   - per-query probe ranking over the 16-cell universe as a
    *     per-query Hamming rank WINDOW inside the plan (r16: the
    *     former driver-side per-query loop capped the batch at toy
    *     sizes), unioned into one pushdown In(cell) restriction of
    *     the pooled scan (plan-REQUIRED, a ≤16-int driver read of the
    *     materialized probe pairs) with the (qid, cell) pairs riding
    *     a broadcast — so every query scans only ITS probed cells;
    *   - stage-1 integer scores per (qid, doc), per-query top-50 via
    *     the bounded-buffer aggregate (plan-REQUIRED two-phase);
    *   - stage-2: the (qid, candidate) pairs broadcast onto ONE chunks
    *     scan (the q100 amortization shape: Q queries' candidates
    *     blanket the id space, so the fetch is one scan amortized
    *     over the batch) and the batch MaxSim tail.
    *
    * Everything stays integer/md5-deterministic, so the whole BATCH
    * answer is VALUE-exact against DuckDB. Batch independence — a
    * query's rows are identical whatever else is in the batch — is
    * pinned in MaxSimBatchSpec.
    */
  def maxSimServeBatch(s: SparkSession, dir: String, qids: Seq[Long],
      nProbe: Int, k: Int): DataFrame = {
    import s.implicits._
    require(qids.nonEmpty, "q101: empty query table")
    val ms = ensureMaxSimServeLayout(s, dir)
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val pooled = s.read.parquet(s"$ms/pooled")
    val chunks = s.read.parquet(s"$ms/chunks")
    val qcvAll = chunks.filter(col("doc_id").isin(qids.map(Long.box): _*))
    val qplan = qcvAll.queryExecution.executedPlan.toString
    val qTok = if (qids.size == 1) "EqualTo(doc_id" else "In(doc_id"
    require(qplan.contains("PushedFilters") && qplan.contains(qTok),
      "q101: the query-id In-list did not reach the chunks scan — " +
        "query featurization degraded to a corpus-scale read")
    // per-(qid, bucket) pooled sums: ≤ Q·16 rows — the batch "model",
    // kept IN THE PLAN (r16, the r15 verdict's task 5: the previous
    // driver-side per-query Hamming ranking was a Q×cells loop that
    // capped the batch at toy sizes); materialized once since it
    // feeds three consumers (guards, probe ranking, stage-1 join).
    // r18: the guard aggregate (per-doc distinct-chunk count) rides the
    // SAME materialization pass via GROUPING SETS — the warm-floor
    // profile (a step-level q101 replica) priced the separate guard job at
    // ~0.2-0.3 s of a ~3 s serve, and both granularities come off one
    // pruned read of the qids' chunk rows.
    val qpoolBoth = qcvAll
      .groupingSets(
        Seq(Seq(col("doc_id"), col("bucket")), Seq(col("doc_id"))),
        col("doc_id"), col("bucket"))
      .agg(sum(col("v")).as("qpv"),
        countDistinct(col("chunk")).as("nc"),
        grouping_id().as("gid"))
      .localCheckpoint(true)
    val qpoolDf = qpoolBoth.filter(col("gid") === 0)
      .select(col("doc_id").as("qid"), col("bucket"), col("qpv"))
    // the two loud per-query guards (served coverage + the chunk-count
    // bound) from the materialized frame's doc-level rows — a
    // driver-scale read of Q checkpointed rows, no extra scan
    val guardRows = qpoolBoth.filter(col("gid") === 1)
      .select(col("doc_id"), col("nc")).collect()
    require(guardRows.length == qids.length,
      s"q101: only ${guardRows.length} of ${qids.length} query docs " +
        "have chunk rows — the layout is missing queries")
    // per-query sign cell (missing buckets count as sign+, exactly
    // maxSimServe's closed form) and Hamming probe ranking — now a
    // per-query rank WINDOW over the 16-cell universe inside the
    // plan, the ivfPqScoresBatch probe-selection shape
    val qcellDf = qpoolDf.groupBy(col("qid"))
      .agg((lit(15) - coalesce(sum(when(
          col("bucket") < 4 && col("qpv") < 0,
          expr("shiftleft(1, cast(bucket as int))"))
        .otherwise(lit(0))), lit(0))).cast("int").as("qcell"))
    val cellU = s.range(16).select(col("id").cast("int").as("cell"))
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("__ham").asc, col("cell").asc)
    // Q·nProbe probe pairs: the in-plan window ranking runs ONCE, its
    // result collected as the per-batch probe model (driver-scale by
    // the same contract that makes qids a driver Seq) and re-entered as
    // a local relation for the stage-1 broadcast. r18: this replaces a
    // localCheckpoint job + a separate distinct-cells collect job with
    // one collect — the ranking itself stays in the plan (the r16
    // batch-scale decision), only its ≤ Q·nProbe OUTPUT rows round-trip
    // the driver, exactly like the union cell list already did.
    val probePairs = qcellDf.crossJoin(broadcast(cellU))
      .withColumn("__ham",
        expr("bit_count(cast(cell as bigint) ^ cast(qcell as bigint))"))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") <= nProbe)
      .select(col("qid"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val probeDf = probePairs.toSeq.toDF("qid", "cell")
    // the union cell list for the pushdown — derived from the same
    // collected probe pairs (the q100 bucket-list discipline)
    val unionCells = probePairs.map(_._2).distinct.sorted
    val probedPool = pooled.filter(col("cell")
      .isin(unionCells.map(c => c: java.lang.Integer): _*))
    val pplan = probedPool.queryExecution.executedPlan.toString
    val cellTok =
      if (unionCells.length == 1) "EqualTo(cell" else "In(cell"
    require(pplan.contains("PushedFilters") && pplan.contains(cellTok),
      "q101: the union probe-cell list did not reach the pooled scan " +
        "— stage 1 degrades to a corpus-scale pooled read")
    val topm = udaf(new graft.functions.TopKNearest(50),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[graft.functions.DistId]())
    val cands = probedPool
      .join(broadcast(probeDf), "cell")
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(qpoolDf), Seq("qid", "bucket"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("pv") * col("qpv")).as("s1"))
      .groupBy(col("qid"))
      .agg(topm((-col("s1")).cast("double"), col("doc_id")).as("top"))
      .select(col("qid"), explode(col("top").getField("id")).as("doc_id"))
    // stage 2: one chunks scan, map-side filtered by the broadcast
    // candidate pairs (the q100 amortization shape)
    val dcv = chunks.join(broadcast(cands), "doc_id")
      .select(col("qid"), col("doc_id"), col("chunk"), col("bucket"),
        col("v"))
    val qcv = qcvAll.select(col("doc_id").as("qid"),
      col("chunk").as("qchunk"), col("bucket"), col("v").as("qv"))
    // per-query chunk bound, checked LOUDLY (r15 advice): the previous
    // global limit(Q·4096) was unordered, so one over-long query doc
    // could nondeterministically evict ANOTHER query's chunks and
    // silently corrupt batch scores; this mirrors maxSimServe's
    // single-query require instead (the Q-row guard read above)
    val oversize = guardRows
      .filter(r => r.getLong(1) > 4096 || r.getLong(1) < 1)
    require(oversize.isEmpty,
      s"q101: query docs ${oversize.map(_.getLong(0)).mkString(",")} " +
        "have chunk counts outside (0, 4096] — over-long query docs " +
        "fail loudly, never truncate the batch")
    val qchunks = qcv.select(col("qid"), col("qchunk")).distinct()
    val res = maxSimTopKBatch(dcv, qcv, qchunks, k)
      .orderBy(col("qid"), col("rank"))
    val plan = res.queryExecution.executedPlan.toString
    require(plan.contains("partial_topknearest"),
      "q101: the per-query top-k did not plan as a two-phase partial " +
        "aggregate — the batch merge degraded")
    res
  }

  /** Reciprocal-rank fusion of two rank lists `(id, r_lex)` / `(id,
    * r_den)`: full-outer join so an id ranked by only one modality
    * still scores, rrf = Σ 1/(k + rank). Exposed for unit testing.
    */
  def rrfFuse(lex: DataFrame, den: DataFrame, k: Int): DataFrame =
    lex.join(den, Seq("id"), "full_outer")
      .select(col("id"),
        round(
          coalesce(lit(1.0) / (lit(k) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k) + col("r_den")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)

  val all: Seq[QueryDef] = Seq(

    // ------------------------------------------ SemDeDup embedding dedup
    // Within each coarse cluster, drop every vector that has a SMALLER
    // neighbor with cosine >= 0.4 (greedy keep-lowest-id — the
    // deterministic variant of the paper's per-cluster pruning).
    // Scale: ONE shuffle on the cluster key for the self-join; pair
    // work is quadratic only within a cluster, which the cluster
    // granularity (k-means k, IVF nlist) bounds by construction —
    // exactly the argument the SemDeDup paper makes for clustering
    // before pairwise comparison. The all-pairs-within-bucket join
    // reuses the same exact-cosine arithmetic q24 hash-matches with.
    QueryDef(
      "q44_semdedup",
      (s, dir) => semdedup(t(s, dir, "embeddings"), 0.4),
      Some(s"""WITH b AS (
             |  SELECT vec_id, embedding, $duckBucket AS bucket
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |         sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |               FROM (SELECT unnest(embedding) AS x) z)) AS nrm
             |  FROM embeddings),
             |drops AS (
             |  SELECT DISTINCT y.vec_id
             |  FROM b x
             |  JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
             |  JOIN norms nx ON nx.vec_id = x.vec_id
             |  JOIN norms ny ON ny.vec_id = y.vec_id
             |  WHERE round(
             |    (SELECT sum(CAST(z.p AS DOUBLE) * CAST(z.q AS DOUBLE))
             |     FROM (SELECT unnest(x.embedding) AS p,
             |                  unnest(y.embedding) AS q) z)
             |    / (nx.nrm * ny.nrm), 6) >= 0.4)
             |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b
             |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
             |ORDER BY vec_id""".stripMargin),
      bench = true),

    // --------------------------------- hybrid retrieval: RRF rank fusion
    // Lexical BM25 ranking (q25 semantics over the documents table) and
    // dense cosine ranking (query vector = vec_id 0, q24 semantics over
    // the embeddings table), fused by reciprocal-rank fusion
    // rrf = Σ 1/(60 + rank). Both rankings are tie-safe (rounded score
    // desc, id asc), so ranks are deterministic in both engines.
    // Scale: each side is a distributed TakeOrderedAndProject top-50
    // ([[topKRanked]] — per-partition heaps, k rows to the driver,
    // ranks attached by a window over the 50-row result only); the
    // fusion joins two TOP-50 lists — driver-scale rows, full-outer so
    // a doc ranked by only one modality still scores. No corpus-scale
    // row ever crosses a single-partition exchange.
    QueryDef(
      "q44_rrf_fusion",
      (s, dir) => {
        val terms = Seq("spark", "hash", "vector")
        val k1 = 1.2; val bP = 0.75
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
          .withColumn("dl", size(col("w")).cast("double"))
        def tf(term: String): Column =
          size(filter(col("w"), x => x === term)).cast("double")
        val aggCols =
          count(lit(1)).cast("double").as("n_docs") +:
            sum(col("dl").cast("decimal(38,0)")).cast("double").as("sum_dl") +:
            terms.map(tr =>
              sum(when(tf(tr) > 0, 1).otherwise(0)).cast("double").as(s"df_$tr"))
        val stats = docs.agg(aggCols.head, aggCols.tail: _*)
        def idf(tr: String): Column =
          log((col("n_docs") - col(s"df_$tr") + 0.5) / (col(s"df_$tr") + 0.5) + 1.0)
        def termScore(tr: String): Column = {
          val f = tf(tr)
          idf(tr) * (f * (k1 + 1.0)) /
            (f + lit(k1) * (lit(1.0 - bP) + lit(bP) * col("dl") /
              (col("sum_dl") / col("n_docs"))))
        }
        val lex = topKRanked(
          docs.crossJoin(broadcast(stats))
            .select(col("doc_id").as("id"),
              round(terms.map(termScore).reduce(_ + _), 6).as("bm25")),
          "bm25", "r_lex", 50)
        val e = t(s, dir, "embeddings")
        // vec_id is unique: limit(1) never drops a row, it stamps the
        // 1-row bound into the plan for the nested-loop guard
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
          .limit(1)
        val den = topKRanked(
          e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
            .select(col("vec_id").as("id"),
              round(VectorFns.cosine(col("embedding"), col("qv")), 6).as("sim")),
          "sim", "r_den", 50)
        rrfFuse(lex.select("id", "r_lex"), den.select("id", "r_den"), 60)
          .limit(10)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS w,
             |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
             |  FROM documents),
             |stats AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             |         CAST(sum(CAST(dl AS DECIMAL(38,0))) AS DOUBLE) AS sum_dl,
             |         CAST(sum(CASE WHEN len(list_filter(w, x -> x = 'spark')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
             |         CAST(sum(CASE WHEN len(list_filter(w, x -> x = 'hash')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_hash,
             |         CAST(sum(CASE WHEN len(list_filter(w, x -> x = 'vector')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_vector
             |  FROM d),
             |lex0 AS (
             |  SELECT doc_id AS id,
             |    round(
             |      ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
             |        * (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1.0))
             |        / (CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE)
             |           + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n_docs)))
             |      + ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
             |        * (CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE) * (1.2 + 1.0))
             |        / (CAST(len(list_filter(w, x -> x = 'hash')) AS DOUBLE)
             |           + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n_docs)))
             |      + ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
             |        * (CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) * (1.2 + 1.0))
             |        / (CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE)
             |           + 1.2 * (1.0 - 0.75 + 0.75 * dl / (sum_dl / n_docs))), 6)
             |      AS bm25
             |  FROM d, stats),
             |lex AS (
             |  SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS r_lex
             |  FROM lex0 QUALIFY r_lex <= 50),
             |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
             |den0 AS (
             |  SELECT e.vec_id AS id,
             |    round(
             |      (SELECT sum(CAST(z.p AS DOUBLE) * CAST(z.q AS DOUBLE))
             |       FROM (SELECT unnest(e.embedding) AS p, unnest(qv.q) AS q) z)
             |      / (sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |               FROM (SELECT unnest(e.embedding) AS x) z))
             |         * sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |                 FROM (SELECT unnest(qv.q) AS x) z))), 6) AS sim
             |  FROM embeddings e, qv WHERE e.vec_id <> 0),
             |den AS (
             |  SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS r_den
             |  FROM den0 QUALIFY r_den <= 50)
             |SELECT coalesce(lex.id, den.id) AS id,
             |  round(coalesce(1.0 / (60 + r_lex), 0.0)
             |      + coalesce(1.0 / (60 + r_den), 0.0), 6) AS rrf
             |FROM lex FULL OUTER JOIN den ON lex.id = den.id
             |ORDER BY rrf DESC, id LIMIT 10""".stripMargin)),

    // ----------------------------------- SemDeDup over trained IVF cells
    // The composition the q44_semdedup comment promises ("at scale the
    // key is swapped for the IVF cell id without touching the pair/drop
    // stages"), now a query: cluster with the trained k-means cells
    // (LlmOps.ivfCentroids — the same index q24_ann_ivf serves from),
    // assign every vector to its cell, run the IDENTICAL
    // [[semdedupBy]] pair/drop stage keyed on cell_id. Because trained
    // centroid values are float-summation-order dependent, cluster
    // membership — and therefore the kept SET — is not hash-stable, so
    // (as with q24_ivf_train) the oracle pins the deterministic
    // CONTRACT instead: conservation (kept + dropped = corpus), the
    // greedy invariant that each cell's minimum vec_id always survives,
    // and the defining postcondition that NO within-cell pair at
    // cosine >= threshold survives among the kept — all recomputed
    // in-query from the actual assignment. (assignment_ok guards the
    // clustering step itself: argmax assignment must map every corpus
    // vector to exactly one cell — no drops, no tie duplication.)
    QueryDef(
      "q60_semdedup_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = LlmOps.ivfCentroids(s, dir, e)
        val assigned = graft.operators.KMeans
          .assign(e, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("embedding"),
            col("cell_id").as("bucket"))
          .localCheckpoint(true) // assignment reused by kept + checks
        val kept = semdedupBy(assigned, 0.4).localCheckpoint(true)
        val ka = kept.select(col("bucket"), col("vec_id").as("ia"),
          col("embedding").as("ea"))
        val kb = kept.select(col("bucket"), col("vec_id").as("ib"),
          col("embedding").as("eb"))
        val surviving = ka.join(kb, Seq("bucket"))
          .filter(col("ia") < col("ib"))
          .filter(round(VectorFns.cosine(col("ea"), col("eb")), 6) >= 0.4)
          .agg(count(lit(1)).as("n_surviving"))
        val mins = assigned.groupBy("bucket")
          .agg(min(col("vec_id")).as("min_id"))
          .join(kept.select(col("vec_id").as("min_id")), Seq("min_id"),
            "left_anti")
          .agg(count(lit(1)).as("n_lost_mins"))
        val counts = e.agg(count(lit(1)).as("n_total"))
          .crossJoin(assigned.agg(count(lit(1)).as("n_assigned")))
        counts.crossJoin(surviving).crossJoin(mins)
          .select(
            col("n_total"),
            (col("n_assigned") === col("n_total")).as("assignment_ok"),
            (col("n_surviving") === 0).as("no_surviving_pair"),
            (col("n_lost_mins") === 0).as("min_ids_kept"))
      },
      Some("""SELECT count(*) AS n_total, true AS assignment_ok,
             |       true AS no_surviving_pair, true AS min_ids_kept
             |FROM embeddings""".stripMargin)),

    // ----------------------------------------------------- dataset card
    // The release datasheet: one scan of the corpus producing, per
    // (source, lang) slice — doc count, token mass, char mass, exact-dup
    // rate (rows beyond the first per md5(text)), and short-doc rate
    // (< 20 tokens). Scale: one md5 window (shuffle on the fingerprint)
    // + one aggregation; every column is a SUM/COUNT so the slice table
    // composes under further rollup.
    QueryDef(
      "q44_dataset_card",
      (s, dir) => {
        val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
            size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
            (row_number().over(w) > 1).as("is_dup"))
          .groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"),
            round(avg(col("n_tok").cast("double")), 6).as("avg_tokens"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
            sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("n_short"))
          .orderBy("source", "lang")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, lang, n_chars,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |         row_number() OVER (PARTITION BY md5(text)
             |                            ORDER BY doc_id) > 1 AS is_dup
             |  FROM documents)
             |SELECT source, lang,
             |  count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |  round(avg(CAST(n_tok AS DOUBLE)), 6) AS avg_tokens,
             |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
             |  CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
             |FROM d GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // ------------------------------- MMR diversity re-ranking (top-k)
    // Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    // SIGIR'98) of a retrieved page: greedily pick the candidate
    // maximizing λ·rel − (1−λ)·max-sim-to-selected — the diversity
    // pass that de-dupes RAG context windows and eval retrieval sets.
    // Scale altitude: candidate generation is DISTRIBUTED (broadcast
    // query + map-only cosine + TakeOrderedAndProject top-20, the q24
    // serving shape — IVF/LSH at 100 TB); the greedy loop then runs on
    // the RETRIEVED PAGE (20 rows, driver-scale by the same contract
    // as any reranker). Engine-exactness: similarities become integer
    // micros (round(cos·1e6), computed by the same in-order DotF fold
    // in Spark and unnest+sum in DuckDB), and with λ = 1/2 the MMR
    // argmax equals argmax of the INTEGER rel_u − max(sim_u) — zero
    // float arithmetic in the greedy, so the oracle unrolls the 5
    // selection steps as CTEs and hashes exactly.
    QueryDef(
      "q65_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val cand = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"),
            round(VectorFns.cosine(col("embedding"), col("qe")) * 1e6)
              .cast("long").as("rel_u"))
          .orderBy(col("rel_u").desc, col("vec_id").asc)
          .limit(20)
          .localCheckpoint() // 20-row page, reused by both sim sides
        val a = cand.select(col("vec_id").as("ia"), col("embedding").as("ea"))
        val b = cand.select(col("vec_id").as("ib"), col("embedding").as("eb"))
        val sim: Map[(Long, Long), Long] = a
          .join(b, col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            round(VectorFns.cosine(col("ea"), col("eb")) * 1e6)
              .cast("long").as("s"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val rels: Seq[(Long, Long)] = cand.select("vec_id", "rel_u")
          .collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))
        require(rels.size >= 5,
          s"q65_mmr_rerank needs at least 5 retrievable candidates to " +
            s"select 5 diverse results; the embeddings table yielded " +
            s"only ${rels.size} (excluding the query vector)")
        val first = rels.maxBy { case (id, rel) => (rel, -id) }
        var selected = Vector((first._1, first._2, first._2))
        while (selected.size < 5) {
          val chosen = selected.map(_._1).toSet
          val best = rels.filterNot(r => chosen(r._1))
            .map { case (id, rel) =>
              (id, rel, rel - selected.map(sl => sim((id, sl._1))).max)
            }
            .maxBy { case (id, _, m) => (m, -id) }
          selected :+= best
        }
        selected.zipWithIndex
          .map { case ((id, rel, m), i) => ((i + 1).toLong, id, rel, m) }
          .toDF("rank", "vec_id", "rel_u", "mmr_u")
          .orderBy("rank")
      },
      Some {
        def cosU(l: String, r: String) =
          s"""CAST(round(
             |      (SELECT sum(CAST(z.p AS DOUBLE) * CAST(z.q AS DOUBLE))
             |       FROM (SELECT unnest($l) AS p, unnest($r) AS q) z)
             |      / (sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |               FROM (SELECT unnest($l) AS x) z))
             |         * sqrt((SELECT sum(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE))
             |                 FROM (SELECT unnest($r) AS x) z)))
             |      * 1e6) AS BIGINT)""".stripMargin
        def step(t: Int, sel: String) =
          s"""m$t AS (
             |  SELECT c.vec_id, c.rel_u, c.rel_u - max(s.s) AS mmr_u
             |  FROM cand c JOIN sim s ON s.ia = c.vec_id
             |  WHERE s.ib IN ($sel) AND c.vec_id NOT IN ($sel)
             |  GROUP BY 1, 2),
             |s$t AS (SELECT * FROM m$t ORDER BY mmr_u DESC, vec_id LIMIT 1)"""
            .stripMargin
        val sels = (2 to 5).map { t =>
          val sel = (1 until t).map(i => s"SELECT vec_id FROM s$i")
            .mkString(" UNION ALL ")
          step(t, sel)
        }.mkString(",\n")
        s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |cand AS (
           |  SELECT e.vec_id, e.embedding,
           |    ${cosU("e.embedding", "q.qe")} AS rel_u
           |  FROM embeddings e, q WHERE e.vec_id <> 0
           |  ORDER BY rel_u DESC, vec_id LIMIT 20),
           |sim AS (
           |  SELECT a.vec_id AS ia, b.vec_id AS ib,
           |    ${cosU("a.embedding", "b.embedding")} AS s
           |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
           |s1 AS (SELECT vec_id, rel_u FROM cand
           |       ORDER BY rel_u DESC, vec_id LIMIT 1),
           |$sels
           |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel_u, rel_u AS mmr_u
           |FROM s1
           |UNION ALL SELECT 2, vec_id, rel_u, mmr_u FROM s2
           |UNION ALL SELECT 3, vec_id, rel_u, mmr_u FROM s3
           |UNION ALL SELECT 4, vec_id, rel_u, mmr_u FROM s4
           |UNION ALL SELECT 5, vec_id, rel_u, mmr_u FROM s5
           |ORDER BY rank""".stripMargin
      }),

    // LATE-INTERACTION MAXSIM RERANK (round 14): multi-vector retrieval
    // in the ColBERT shape (Khattab & Zaharia, SIGIR'20) — a document
    // is a BAG of chunk vectors, and its score against a multi-chunk
    // query is MaxSim: for each query chunk, the best-matching document
    // chunk's dot product, summed over query chunks. This is the
    // scoring that single-vector pooling cannot express (a long
    // document matching three different query aspects in three
    // different sections scores on all three, not on their average) —
    // the hard-negative-mining / rerank shape a training-data pipeline
    // runs after first-stage retrieval.
    //
    // Two-stage, like q96: stage 1 is single-vector retrieval on the
    // POOLED vectors (pooled = sum of chunk vectors, so the pooled dot
    // is computable from the same sparse rows) → top-m candidates;
    // stage 2 computes real MaxSim only on those m. Scale shape:
    // stage 1 is a corpus-scale groupBy + a ≤16-row broadcast join
    // (the query's pooled buckets); stage 2 touches m documents'
    // chunk rows — O(m · chunks² ) pairs, independent of corpus size.
    //
    // Everything is INTEGER-exact end to end (signed feature hashing:
    // bucket = first md5 hex digit of the token, sign = second digit's
    // high bit; chunk vectors are ±1 count sums), and both engines
    // share md5 — so the oracle is VALUE-exact on the final ranking,
    // not a contract row: DuckDB recomputes the identical pipeline
    // relationally and the driver hash-compares the top-10.
    // Missing (qchunk, dchunk) bucket overlaps are true dot-0 pairs:
    // the pair frame is materialized (candidate chunks × query chunks)
    // and LEFT-joined so a qchunk whose best dot is negative still
    // maxes against the 0 of a disjoint chunk — dropping that frame
    // silently inflates negative-only scores, the classic relational
    // MaxSim bug, pinned in MaxSimSpec by an independent in-process
    // replica.
    QueryDef(
      "q98_maxsim_rerank",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE from-raw featurization pass (r18): the corpus-scale
        // tokenize+md5+aggregate subtree feeds the pooled stage-1 AND
        // both legs of the stage-2 scoring tail, and column pruning
        // splits them into separately-planned scans — the before-plan
        // (plans/r18/q98_maxsim_rerank_before.txt) re-runs the Generate
        // subtree per leg. An eager in-job localCheckpoint materializes
        // the featurization once per invocation (guide §5; re-paid on
        // every run). The query-side frames (qcv, nq) stay on the raw
        // formulation where the doc_id = qid filter pushes down to the
        // documents scan — against the checkpoint they would read the
        // whole materialized corpus for one doc.
        val cvRaw = chunkVectors(docs)
        // serialized storage: same block-churn rationale as the q23
        // shingle checkpoint (this frame is ~chunk-count rows)
        val cv = cvRaw.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val qid = docs.agg(min(col("doc_id"))).collect()(0).getLong(0)
        val pool = cv.groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("v")).as("pv"))
        // ≤ 16 buckets by construction: the limit stamps the provable
        // bound into the plan for the broadcast side
        val qpool = pool.filter(col("doc_id") === qid)
          .select(col("bucket"), col("pv").as("qpv"))
          .limit(16)
        val cand = pool.filter(col("doc_id") =!= qid)
          .join(broadcast(qpool), "bucket")
          .groupBy(col("doc_id"))
          .agg(sum(col("pv") * col("qpv")).as("s1"))
          .orderBy(col("s1").desc, col("doc_id").asc)
          .limit(50)
          .select(col("doc_id"))
        val qcv = cvRaw.filter(col("doc_id") === qid)
          .select(col("chunk").as("qchunk"), col("bucket"),
            col("v").as("qv"))
        val nq = qcv.select(col("qchunk")).distinct().count()
        require(nq >= 1 && nq <= 4096,
          s"q98: query doc $qid has $nq chunks — outside (0, 4096]; " +
            "pick a different query or raise the stamp deliberately")
        val qchunks = qcv.select(col("qchunk")).distinct().limit(4096)
        val dcv = cv.join(broadcast(cand), "doc_id")
        maxSimTopK(dcv, qcv, qchunks, 10)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(range(len(w))) AS pos
             |  FROM d),
             |feat AS (
             |  SELECT doc_id, CAST(floor(pos / 32.0) AS BIGINT) AS chunk,
             |    strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1
             |      AS bucket,
             |    CASE WHEN strpos('0123456789abcdef', substr(md5(tk), 2, 1))
             |      - 1 < 8 THEN 1 ELSE -1 END AS sgn
             |  FROM tok),
             |cv AS (
             |  SELECT doc_id, chunk, bucket, CAST(sum(sgn) AS BIGINT) AS v
             |  FROM feat GROUP BY 1, 2, 3),
             |qid AS (SELECT min(doc_id) AS qid FROM documents),
             |pool AS (
             |  SELECT doc_id, bucket, CAST(sum(v) AS BIGINT) AS pv
             |  FROM cv GROUP BY 1, 2),
             |qpool AS (
             |  SELECT bucket, pv AS qpv FROM pool CROSS JOIN qid
             |  WHERE doc_id = qid),
             |cand AS (
             |  SELECT p.doc_id
             |  FROM pool p JOIN qpool q USING (bucket) CROSS JOIN qid
             |  WHERE p.doc_id <> qid.qid
             |  GROUP BY p.doc_id
             |  ORDER BY CAST(sum(p.pv * q.qpv) AS BIGINT) DESC, p.doc_id
             |  LIMIT 50),
             |qcv AS (
             |  SELECT chunk AS qchunk, bucket, v AS qv
             |  FROM cv CROSS JOIN qid WHERE doc_id = qid.qid),
             |dcv AS (SELECT cv.* FROM cv JOIN cand USING (doc_id)),
             |dchunks AS (SELECT DISTINCT doc_id, chunk FROM dcv),
             |qchunks AS (SELECT DISTINCT qchunk FROM qcv),
             |pairs AS (
             |  SELECT doc_id, chunk, qchunk
             |  FROM dchunks CROSS JOIN qchunks),
             |dots0 AS (
             |  SELECT dcv.doc_id, dcv.chunk, q.qchunk,
             |         CAST(sum(dcv.v * q.qv) AS BIGINT) AS dot
             |  FROM dcv JOIN qcv q USING (bucket)
             |  GROUP BY 1, 2, 3),
             |dots AS (
             |  SELECT p.doc_id, p.qchunk, coalesce(d.dot, 0) AS dot
             |  FROM pairs p LEFT JOIN dots0 d
             |    ON d.doc_id = p.doc_id AND d.chunk = p.chunk
             |   AND d.qchunk = p.qchunk),
             |mx AS (
             |  SELECT doc_id, qchunk, max(dot) AS m
             |  FROM dots GROUP BY 1, 2)
             |SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |       CAST(sum(m) AS BIGINT) AS maxsim
             |FROM mx GROUP BY doc_id
             |ORDER BY maxsim DESC, doc_id LIMIT 10""".stripMargin),
      bench = true),

    // MAXSIM SERVE (round 15 — the r14 verdict's lead item): the same
    // late-interaction rerank answered from PERSISTED layouts instead
    // of a per-query corpus featurization. q98_maxsim_rerank re-derives
    // corpus-scale chunk vectors from raw text on every query — the
    // priced batch-rerank pipeline, measured data-linear (3.74× at
    // 10×); this entry is the serve path: chunk vectors and pooled
    // vectors are written ONCE at ingest (ensureMaxSimServeLayout,
    // Bench prewarms untimed), and the timed body is
    //   - a rowgroup-pruned ≤16-row read of the query's pooled vector,
    //   - a pruned scan of nProbe=4 of 16 sign cells for stage-1
    //     top-50 (In(cell) plan-required — the q95 pushdown discipline
    //     applied to the probe),
    //   - an In-list rowgroup-pruned fetch of the ≤50 candidates'
    //     chunk rows (plan-required, the q96 fetch discipline),
    //   - the integer-exact MaxSim tail over those rows.
    // No step touches text; no step scans unprobed cells. The cell key
    // is the deterministic pooled-sign pattern (SQL-replicable), so
    // unlike the k-means serve family this entry keeps a VALUE-exact
    // oracle: DuckDB recomputes the identical probe ranking, stage-1
    // integer sums, and MaxSim tail, and the driver hash-compares the
    // top-10. The equivalence vs the from-raw pipeline is a THEOREM at
    // full probe width (probing all 16 cells reproduces
    // q98_maxsim_rerank id-for-id — pinned in MaxSimServeSpec); the
    // benched nProbe=4 approximation is replicated exactly by the
    // oracle rather than asserted away.
    QueryDef(
      "q98_maxsim_serve",
      (s, dir) => maxSimServe(s, dir, nProbe = 4, k = 10),
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(range(len(w))) AS pos
             |  FROM d),
             |feat AS (
             |  SELECT doc_id, CAST(floor(pos / 32.0) AS BIGINT) AS chunk,
             |    strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1
             |      AS bucket,
             |    CASE WHEN strpos('0123456789abcdef', substr(md5(tk), 2, 1))
             |      - 1 < 8 THEN 1 ELSE -1 END AS sgn
             |  FROM tok),
             |cv AS (
             |  SELECT doc_id, chunk, bucket, CAST(sum(sgn) AS BIGINT) AS v
             |  FROM feat GROUP BY 1, 2, 3),
             |qid AS (SELECT min(doc_id) AS qid FROM documents),
             |pool AS (
             |  SELECT doc_id, bucket, CAST(sum(v) AS BIGINT) AS pv
             |  FROM cv GROUP BY 1, 2),
             |cells AS (
             |  SELECT doc_id,
             |    15 - CAST(coalesce(sum(CASE WHEN bucket < 4 AND pv < 0
             |      THEN (1 << bucket) ELSE 0 END), 0) AS INT) AS cell
             |  FROM pool GROUP BY doc_id),
             |qcell AS (
             |  SELECT ce.cell AS qc FROM cells ce CROSS JOIN qid
             |  WHERE ce.doc_id = qid.qid),
             |probed AS (
             |  SELECT CAST(u.c AS INT) AS cell
             |  FROM (SELECT unnest(range(16)) AS c) u CROSS JOIN qcell
             |  ORDER BY bit_count(xor(CAST(u.c AS BIGINT),
             |                         CAST(qc AS BIGINT))), u.c
             |  LIMIT 4),
             |qpool AS (
             |  SELECT bucket, pv AS qpv FROM pool CROSS JOIN qid
             |  WHERE doc_id = qid),
             |cand AS (
             |  SELECT p.doc_id
             |  FROM pool p
             |  JOIN cells ce USING (doc_id)
             |  JOIN probed pr ON ce.cell = pr.cell
             |  JOIN qpool q USING (bucket)
             |  CROSS JOIN qid
             |  WHERE p.doc_id <> qid.qid
             |  GROUP BY p.doc_id
             |  ORDER BY CAST(sum(p.pv * q.qpv) AS BIGINT) DESC, p.doc_id
             |  LIMIT 50),
             |qcv AS (
             |  SELECT chunk AS qchunk, bucket, v AS qv
             |  FROM cv CROSS JOIN qid WHERE doc_id = qid.qid),
             |dcv AS (SELECT cv.* FROM cv JOIN cand USING (doc_id)),
             |dchunks AS (SELECT DISTINCT doc_id, chunk FROM dcv),
             |qchunks AS (SELECT DISTINCT qchunk FROM qcv),
             |pairs AS (
             |  SELECT doc_id, chunk, qchunk
             |  FROM dchunks CROSS JOIN qchunks),
             |dots0 AS (
             |  SELECT dcv.doc_id, dcv.chunk, q.qchunk,
             |         CAST(sum(dcv.v * q.qv) AS BIGINT) AS dot
             |  FROM dcv JOIN qcv q USING (bucket)
             |  GROUP BY 1, 2, 3),
             |dots AS (
             |  SELECT p.doc_id, p.qchunk, coalesce(d.dot, 0) AS dot
             |  FROM pairs p LEFT JOIN dots0 d
             |    ON d.doc_id = p.doc_id AND d.chunk = p.chunk
             |   AND d.qchunk = p.qchunk),
             |mx AS (
             |  SELECT doc_id, qchunk, max(dot) AS m
             |  FROM dots GROUP BY 1, 2)
             |SELECT CAST(doc_id AS BIGINT) AS doc_id,
             |       CAST(sum(m) AS BIGINT) AS maxsim
             |FROM mx GROUP BY doc_id
             |ORDER BY maxsim DESC, doc_id LIMIT 10""".stripMargin),
      bench = true),

    // BATCH MAXSIM (round 15, the q100 discipline applied to the
    // late-interaction family; r16 raised the batch to Q=32 by moving
    // the probe ranking into the plan): a query TABLE (the mod-7
    // doc-id residue, ≤32 queries) served through the SAME persisted layouts
    // as q98_maxsim_serve in ONE declarative two-stage plan — In-list
    // pruned query featurization, per-query Hamming probe ranking
    // fanned into one pushdown-pruned pooled scan with broadcast
    // (qid, cell) probe pairs, bounded-buffer per-query top-50, one
    // amortized chunks scan for all candidates, and the batch MaxSim
    // tail with per-query bounded top-10. Three plan properties
    // require-refused (query In-list, probe-cell In-list, two-phase
    // partial top-k). Because every stage stays integer/md5-exact and
    // the cell key deterministic, the ENTIRE BATCH output
    // (qid, rank, doc_id, maxsim) is VALUE-exact against DuckDB —
    // a per-row hash of 8 queries' rankings, not a contract row.
    // Batch independence (a query's rows identical whatever else is
    // in the batch) is pinned in MaxSimBatchSpec.
    QueryDef(
      "q101_batch_maxsim",
      (s, dir) => {
        val ms = ensureMaxSimServeLayout(s, dir)
        val qids = s.read.parquet(s"$ms/pooled")
          .select(col("doc_id")).distinct()
          .filter(pmod(col("doc_id"), lit(7)) === 1)
          .orderBy(col("doc_id")).limit(32)
          .collect().map(_.getLong(0)).toSeq
        maxSimServeBatch(s, dir, qids, nProbe = 4, k = 10)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tok AS (
             |  SELECT doc_id, unnest(w) AS tk,
             |         unnest(range(len(w))) AS pos
             |  FROM d),
             |feat AS (
             |  SELECT doc_id, CAST(floor(pos / 32.0) AS BIGINT) AS chunk,
             |    strpos('0123456789abcdef', substr(md5(tk), 1, 1)) - 1
             |      AS bucket,
             |    CASE WHEN strpos('0123456789abcdef', substr(md5(tk), 2, 1))
             |      - 1 < 8 THEN 1 ELSE -1 END AS sgn
             |  FROM tok),
             |cv AS (
             |  SELECT doc_id, chunk, bucket, CAST(sum(sgn) AS BIGINT) AS v
             |  FROM feat GROUP BY 1, 2, 3),
             |qids AS (
             |  SELECT DISTINCT doc_id AS qid FROM cv
             |  WHERE doc_id % 7 = 1 ORDER BY qid LIMIT 32),
             |pool AS (
             |  SELECT doc_id, bucket, CAST(sum(v) AS BIGINT) AS pv
             |  FROM cv GROUP BY 1, 2),
             |cells AS (
             |  SELECT doc_id,
             |    15 - CAST(coalesce(sum(CASE WHEN bucket < 4 AND pv < 0
             |      THEN (1 << bucket) ELSE 0 END), 0) AS INT) AS cell
             |  FROM pool GROUP BY doc_id),
             |qpool AS (
             |  SELECT q.qid, p.bucket, p.pv AS qpv
             |  FROM pool p JOIN qids q ON p.doc_id = q.qid),
             |qcell AS (
             |  SELECT q.qid, ce.cell AS qc
             |  FROM cells ce JOIN qids q ON ce.doc_id = q.qid),
             |probed AS (
             |  SELECT qid, CAST(u.c AS INT) AS cell
             |  FROM (SELECT unnest(range(16)) AS c) u CROSS JOIN qcell
             |  QUALIFY row_number() OVER (PARTITION BY qid
             |    ORDER BY bit_count(xor(CAST(u.c AS BIGINT),
             |                           CAST(qc AS BIGINT))), u.c) <= 4),
             |cand0 AS (
             |  SELECT pr.qid, p.doc_id, CAST(sum(p.pv * qp.qpv) AS BIGINT)
             |    AS s1
             |  FROM pool p
             |  JOIN cells ce ON ce.doc_id = p.doc_id
             |  JOIN probed pr ON pr.cell = ce.cell
             |  JOIN qpool qp ON qp.qid = pr.qid AND qp.bucket = p.bucket
             |  WHERE p.doc_id <> pr.qid
             |  GROUP BY pr.qid, p.doc_id),
             |cand AS (
             |  SELECT qid, doc_id FROM cand0
             |  QUALIFY row_number() OVER (PARTITION BY qid
             |    ORDER BY s1 DESC, doc_id) <= 50),
             |qcv AS (
             |  SELECT q.qid, c.chunk AS qchunk, c.bucket, c.v AS qv
             |  FROM cv c JOIN qids q ON c.doc_id = q.qid),
             |dcv AS (
             |  SELECT ca.qid, c.doc_id, c.chunk, c.bucket, c.v
             |  FROM cv c JOIN cand ca ON ca.doc_id = c.doc_id),
             |dchunks AS (SELECT DISTINCT qid, doc_id, chunk FROM dcv),
             |qchunks AS (SELECT DISTINCT qid, qchunk FROM qcv),
             |pairs AS (
             |  SELECT dc.qid, dc.doc_id, dc.chunk, qc.qchunk
             |  FROM dchunks dc JOIN qchunks qc ON qc.qid = dc.qid),
             |dots0 AS (
             |  SELECT dv.qid, dv.doc_id, dv.chunk, q.qchunk,
             |         CAST(sum(dv.v * q.qv) AS BIGINT) AS dot
             |  FROM dcv dv JOIN qcv q
             |    ON q.qid = dv.qid AND q.bucket = dv.bucket
             |  GROUP BY 1, 2, 3, 4),
             |dots AS (
             |  SELECT p.qid, p.doc_id, p.qchunk, coalesce(dd.dot, 0) AS dot
             |  FROM pairs p LEFT JOIN dots0 dd
             |    ON dd.qid = p.qid AND dd.doc_id = p.doc_id
             |   AND dd.chunk = p.chunk AND dd.qchunk = p.qchunk),
             |mx AS (
             |  SELECT qid, doc_id, qchunk, max(dot) AS m
             |  FROM dots GROUP BY 1, 2, 3),
             |scored AS (
             |  SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS maxsim
             |  FROM mx GROUP BY 1, 2)
             |SELECT CAST(qid AS BIGINT) AS qid,
             |  CAST(row_number() OVER (PARTITION BY qid
             |    ORDER BY maxsim DESC, doc_id) AS INT) AS rank,
             |  CAST(doc_id AS BIGINT) AS doc_id, maxsim
             |FROM scored
             |QUALIFY rank <= 10
             |ORDER BY qid, rank""".stripMargin),
      bench = true),

    // MAXSIM OVER TRAINED IVF CELLS (round 16 — r15 verdict #4): the
    // q98 serve pipeline against the trained-K-cell layout
    // (ensureMaxSimIvfServeLayout) instead of the 16-sign-cell
    // universe. The sign key is the VALUE-exact oracle mode and stays
    // q98/q101's; its cost is a hard 1/16 probe-selectivity floor —
    // at 100 TB a probe must confine the scan to nProbe of HUNDREDS
    // of cells, which is exactly what the trained key buys (~250
    // cells at sf0.1, nProbe=4 → 1.6% of the corpus scanned vs the
    // sign key's 25%). MaxSimIvfSwapSpec proved the swap preserves
    // the full-probe ranking as a spec construction; this entry makes
    // it a PERSISTED layout with a benched serve path. Because
    // k-means floats are not bit-stable across JVMs, the oracle is a
    // contract row (the q24_ivf_train discipline), with the probe
    // CONTAINMENT recomputed falsifiably from the layout: every
    // result doc's trained cell must be among the probed cells. The
    // full-probe theorem (all-cells probe ≡ the from-raw rerank
    // ranking id-for-id, trained key) is re-proven in MaxSimServeSpec.
    QueryDef(
      "q103_maxsim_ivf_serve",
      (s, dir) => {
        val (top, probed, cellsPushed, fetchPruned) =
          maxSimServeIvf(s, dir, nProbe = 4, k = 10)
        val ms = ensureMaxSimIvfServeLayout(s, dir)
        val t10 = top.localCheckpoint(true) // k rows, reused 2×
        val cellsOf = s.read.parquet(s"$ms/pooled_ivf")
          .select(col("doc_id"), col("cell_id")).distinct()
        val leak = t10.join(cellsOf, "doc_id")
          .filter(!col("cell_id").isin(probed.map(Long.box): _*))
          .agg(count(lit(1)).as("n_leaked"))
        t10.agg(
            (count(lit(1)) >= 1).as("nonempty"),
            (count(lit(1)) <= 10).as("k_bounded"),
            (count(when(col("maxsim").isNull, 1)) === 0).as("finite_ok"))
          .crossJoin(leak)
          .crossJoin(t(s, dir, "documents")
            .agg(count(lit(1)).as("n_docs")))
          .select(col("n_docs"), col("nonempty"), col("k_bounded"),
            col("finite_ok"),
            (col("n_leaked") === 0).as("in_probe_ok"),
            lit(cellsPushed).as("cells_pushed"),
            lit(fetchPruned).as("fetch_pruned"))
      },
      Some("""SELECT count(*) AS n_docs, true AS nonempty,
             |  true AS k_bounded, true AS finite_ok,
             |  true AS in_probe_ok, true AS cells_pushed,
             |  true AS fetch_pruned
             |FROM documents""".stripMargin),
      bench = true)
  )
}
