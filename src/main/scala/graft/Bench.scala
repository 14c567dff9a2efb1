package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric","value","unit","queries","sf"}.
  *
  * Timing is per-query wall clock of a full plan execution (count()),
  * after a one-off trivial action that absorbs session/codegen warmup so
  * the first measured query isn't charged for JVM startup.
  *
  * A query that throws is reported as {"err": "<message>"} under its name
  * and EXCLUDED from "value" — a failure must never be folded into the
  * total as a (fast, fake) timing.
  */
object Bench {

  /** Render the one-line JSON result. Successes render as seconds;
    * failures render as {"err": msg} objects and are excluded from the
    * total. `solo` (optional) adds a sibling "solo" map with the
    * decoupled per-query timings — a separate field so any consumer of
    * "queries" keeps parsing numbers. Kept free of SparkSession so it
    * can be spec'd directly.
    *
    * Consumer contract: `main` prints this line twice in a row, and the
    * two copies are identical. A consumer takes one copy (the first or
    * the last result-shaped line), never sums or appends every match.
    * `value` is the 3-decimal rounding of the full-precision sum of the
    * successful timings, so it can differ in the last decimal from the
    * sum of the rounded `queries` entries.
    */
  def formatResults(
      results: Seq[(String, Either[String, Double])], sfDir: String,
      solo: Seq[(String, Double)] = Nil): String = {
    // 3-decimal seconds (r18, r17 verdict #3): full-precision doubles
    // made the line ~4.3 KB and the driver's tail capture truncated it
    // two rounds running (BENCH_r15/r16 parsed: null). Millisecond
    // precision is far below the measured ±20% ambient noise band, and
    // the shorter line (~2.6 KB) fits any plausible capture window.
    def sec3(sec: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))
    val qs = results.map {
      case (k, Right(sec)) => s"${jsonString(k)}:${sec3(sec)}"
      case (k, Left(msg))  => s"${jsonString(k)}:{\"err\":${jsonString(msg)}}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(sec)) => sec }.sum
    val nErr = results.count(_._2.isLeft)
    val soloJson =
      if (solo.isEmpty) ""
      else solo.map { case (k, sec) => s"${jsonString(k)}:${sec3(sec)}" }
        .mkString(""","solo":{""", ",", "}")
    s"""{"metric":"total","value":${sec3(total)},"unit":"sec","queries":$qs,"sf":${jsonString(sfDir)},"errors":$nErr$soloJson}"""
  }

  private def jsonString(s: String): String = JsonText.quote(s)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.range(1000000).selectExpr("sum(id)").collect() // warmup
    graft.queries.Conversion.ensureBenchFixture() // untimed fixture gen

    // min of three runs per query: later runs reuse codegen caches and
    // JIT-warm paths, and the min also rides out ambient host-load noise
    // (observed ±20% between identical runs), so reported numbers track
    // real plan changes rather than neighbors
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 narrows the set for local iteration;
    // the driver never sets it, so the reported set stays the full one
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val set = SparkEntry.benchQueries.filter(q => only.forall(_.contains(q.name)))

    // untimed index build so q68_ann_serve / q68_ann_append time ONLY
    // their serve/append paths — gated on the (possibly narrowed) set so
    // local BENCH_ONLY loops on other queries don't pay two trainings at
    // every start. Failure is swallowed here: a broken build must
    // surface as those queries' own per-query {"err"} rows inside
    // once() (where the retry pays the build again and reports the real
    // exception), not abort the whole bench run. NonFatal only: an OOM
    // or LinkageError leaves the JVM untrustworthy, and timings taken
    // in a corrupted JVM are worse than an aborted run.
    if (set.exists(q => q.name == "q68_ann_serve" || q.name == "q68_ann_append" ||
        q.name == "q84_quiet_trigger" || q.name == "q89_adopt_trigger" ||
        q.name == "q95_filtered_serve" || q.name == "q96_refine_serve" ||
        q.name == "q97_sharded_serve" || q.name == "q99_stack_serve" ||
        q.name == "q100_batch_serve" || q.name == "q95_policy_serve" ||
        q.name == "q102_batch_stack"))
      try {
        graft.queries.LlmOps.ensureAnnServeIndex(spark, sfDir)
        // adoption-template fixture (on top of the shared index) so
        // q89_adopt_trigger times only the adoption, never the encode
        if (set.exists(_.name == "q89_adopt_trigger"))
          graft.queries.LlmOps.ensureAdoptFixture(spark, sfDir)
        // metadata-carrying codes layout so q95_filtered_serve times
        // only the pruned scan + probe, never the layout derivation
        if (set.exists(_.name == "q95_filtered_serve"))
          graft.queries.LlmOps.ensureFilteredServeLayout(spark, sfDir)
        // + the per-(label, cell) occupancy stats the probe policy
        // walks, so q95_policy_serve times only the policy + serve
        if (set.exists(_.name == "q95_policy_serve"))
          graft.queries.LlmOps.ensureFilteredOccStats(spark, sfDir)
        // id-sorted raw vectors so q96_refine_serve times only the
        // query path, never the layout derivation
        if (set.exists(_.name == "q96_refine_serve"))
          graft.queries.LlmOps.ensureRefineServeLayout(spark, sfDir)
        // id-bucket-partitioned raw vectors so the q100/q102 partition-
        // pruned batch refine fetch times only the query path
        if (set.exists(q => q.name == "q100_batch_serve" ||
            q.name == "q102_batch_stack"))
          graft.queries.LlmOps.ensureRefineBucketedLayout(spark, sfDir)
        // the composed stack layout so q102_batch_stack times only the
        // batched stacked query path
        if (set.exists(_.name == "q102_batch_stack"))
          graft.queries.LlmOps.ensureStackServeLayout(spark, sfDir)
        // shard-partitioned codes so q97_sharded_serve times only the
        // scatter-gather serve path, never the layout derivation
        if (set.exists(_.name == "q97_sharded_serve"))
          graft.queries.LlmOps.ensureShardedServeLayout(spark, sfDir)
        // the composed stack layout (+ the raw fetch layout it refines
        // from) so q99_stack_serve times only the stacked query path
        if (set.exists(_.name == "q99_stack_serve")) {
          graft.queries.LlmOps.ensureStackServeLayout(spark, sfDir)
          graft.queries.LlmOps.ensureRefineServeLayout(spark, sfDir)
        }
      }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] untimed ANN index pre-build failed (will surface " +
              s"per-query): ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    // chunk-vector + pooled layouts (documents-derived, independent of
    // the q68 index) so q98_maxsim_serve / q101_batch_maxsim time only
    // the serve path — same swallow-and-surface discipline as above
    if (set.exists(q => q.name == "q98_maxsim_serve" ||
        q.name == "q101_batch_maxsim" ||
        q.name == "q103_maxsim_ivf_serve"))
      try {
        graft.queries.Semantic.ensureMaxSimServeLayout(spark, sfDir)
        // + the trained-cell sibling so q103 times only the serve path
        if (set.exists(_.name == "q103_maxsim_ivf_serve"))
          graft.queries.Semantic.ensureMaxSimIvfServeLayout(spark, sfDir)
      }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] untimed MaxSim layout pre-build failed (will " +
              s"surface per-query): ${e.getClass.getSimpleName}: " +
              s"${e.getMessage}")
      }

    def once(q: graft.queries.QueryDef): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse("")
            .linesIterator.toSeq.headOption.getOrElse("")
          Left(s"${e.getClass.getSimpleName}: $msg")
      }
    }

    def measure(q: graft.queries.QueryDef): Either[String, Double] = {
      val runs = Seq(once(q), once(q), once(q))
      val secs = runs.collect { case Right(s) => s }
      if (secs.size == runs.size) Right(secs.min)
      else runs.collectFirst { case Left(m) => Left(m) }.get
    }

    val results: Seq[(String, Either[String, Double])] =
      set.map(q => (q.name, measure(q)))

    // Second, DECOUPLED pass ("solo"): SCALING.md measured ±30%
    // set-composition effects on in-set numbers (a query pays for its
    // predecessor's heap debris and promotion-triggered GCs). Before each
    // solo measurement the JVM is full-GC'd and given a settle pause, so
    // the number attributes to the query's own plan rather than to set
    // composition. (A true cold-JVM solo would need one JVM per query —
    // outside the driver's single-invocation contract; this is the
    // in-contract approximation, applied identically every round so
    // round-over-round deltas stay attributable.)
    // The solo minimum is taken across three INTERLEAVED sweeps of the
    // whole set rather than three back-to-back runs: back-to-back min-of-3
    // still bounced ±30-50% round-over-round (q61, q57, q45 across
    // r7-r9) because a single host-load window poisons all three
    // consecutive runs of one query; with whole-set sweeps the three
    // samples of each query are minutes apart, so at least one usually
    // lands outside any transient load spike. Same total run count.
    val ok = set.filter(q => results.toMap.apply(q.name).isRight)
    val solo: Seq[(String, Double)] = {
      val sweeps: Seq[Map[String, Double]] = (1 to 3).map { _ =>
        ok.flatMap { q =>
          System.gc(); Thread.sleep(250)
          once(q).toOption.map(q.name -> _)
        }.toMap
      }
      ok.flatMap { q =>
        val samples = sweeps.flatMap(_.get(q.name))
        if (samples.isEmpty) None else Some(q.name -> samples.min)
      }
    }

    // printed TWICE (r18, r17 verdict #3): the driver captures a bounded
    // tail of the output, and a single copy of the line has been cut
    // mid-way by that window two rounds running. Two consecutive copies
    // mean the window always holds at least one complete line; a
    // consumer takes one copy (contract at formatResults). Additions-
    // only: timing and the line's content are unchanged.
    val line = formatResults(results, sfDir, solo)
    println(line)
    println(line)
    spark.stop()
  }
}
