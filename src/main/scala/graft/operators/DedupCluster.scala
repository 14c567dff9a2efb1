package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate cluster assignment: connected components over a
  * candidate-pair edge set, by the alternating large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) on DataFrames.
  *
  * The pipeline shape at scale: LSH produces candidate pairs, exact
  * verification prunes them, and the surviving pairs form a graph whose
  * connected components are the duplicate clusters (keep one doc per
  * component).
  *
  * Why large-star/small-star instead of plain min-label propagation:
  * label propagation needs O(component diameter) rounds, so a long
  * chain of near-dup docs (common when a template mutates gradually)
  * silently exceeds any fixed iteration cap and returns split clusters
  * with no error. The alternating star algorithm converges in
  * O(log^2 n) rounds worst-case (O(log n) in practice) independent of
  * diameter, and its fixed point is provably a forest of stars rooted
  * at each component's minimum node — so hitting the cap is an
  * invariant violation we throw on, not a silent wrong answer.
  *
  * Per-round primitives (both are one shuffle on the node key):
  *   - large-star(u): for m = min(N(u) ∪ {u}), connect every strictly
  *     larger neighbor v > u directly to m.
  *   - small-star(u) on edges oriented bigger→smaller: for m = min(N(u)),
  *     connect u and every smaller neighbor to m.
  *
  * Scale notes:
  *   - `localCheckpoint` truncates the lineage each round — without it
  *     the plan doubles per iteration and the optimizer chokes long
  *     before the data does.
  *   - the convergence check is set-equality of successive edge sets,
  *     never a collect: a one-aggregate (count, exact decimal hash-sum)
  *     pre-check runs every round, and the authoritative anti-join runs
  *     ONLY when the pre-check suspects the fixed point — intermediate
  *     rounds pay one aggregate instead of a full two-sided shuffle.
  *   - edge sets stay distinct'd each round, so the working set is
  *     bounded by the (monotonically star-ifying) edge count.
  */
object DedupCluster {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Waits for observed metrics that the listener bus delivers
    * asynchronously, for one `connectedComponents` call. Each round polls
    * `get` for up to `timeoutNs`; once a round's metrics fail to arrive,
    * later rounds read `get` once and do not wait, so a bus that never
    * delivers costs one timeout per call, not one per round. Every miss
    * logs a warning and returns None: the caller falls back to an
    * explicit aggregate.
    */
  private[operators] final class ObservedMetrics(timeoutNs: Long = 2000000000L) {
    private var delivering = true

    def await(get: () => Map[String, Any]): Option[Map[String, Any]] = {
      var m = get()
      if (delivering) {
        val deadline = System.nanoTime() + timeoutNs
        while (m.isEmpty && System.nanoTime() < deadline) {
          Thread.sleep(5)
          m = get()
        }
      }
      if (m.nonEmpty) Some(m)
      else {
        log.warn("connectedComponents: observed metrics not delivered; " +
          "falling back to an explicit aggregate, without waiting in later rounds")
        delivering = false
        None
      }
    }
  }

  /** Large-star: connect every neighbor larger than u to the minimum of
    * u's closed neighborhood. Input/output: undirected edge set encoded
    * as distinct (u, v) rows with u != v (both orientations implied).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    // min-of-neighborhood as a WINDOW over the node partition (r17):
    // the previous groupBy(u) + join-back shape paid an aggregate
    // exchange AND a join exchange per round and re-derived the
    // symmetric edge stream for both sides; one partition-by-u window
    // computes the same min with a single exchange. Per-group state is
    // bounded by the (monotonically star-ifying) node degree. The
    // round-internal distinct is dropped — duplicate edges cannot
    // change any min() downstream, and the round's OUTPUT is
    // distinct'd once in smallStar — so a round pays two window
    // exchanges + one distinct instead of two aggregates, two joins
    // and two distincts.
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    sym
      .withColumn("m", least(col("u"), min(col("v")).over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: orient edges bigger→smaller, then connect u and all
    * its smaller neighbors to the smallest of them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    // (v→m) relink and (u→m) center edges fall out of ONE windowed
    // pass via explode — the previous union of two projections of the
    // join re-ran its whole subtree per branch
    oriented
      .withColumn("m", min(col("v")).over(w))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u"), col("m").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Connected components of (`vertices`: one `node` column) under
    * (`edges`: `a`, `b` columns). Returns (node, cluster_id) where
    * cluster_id is the minimum node id in the component. Throws if the
    * alternation has not reached its fixed point within `maxIter`
    * rounds (never observed below thousands of rounds' worth of nodes;
    * a cap hit means a bug, not a data property).
    */
  def connectedComponents(
      vertices: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // (row count, exact sum of per-edge hashes) in ONE aggregate. The
    // decimal cast keeps the sum exact (no ANSI long overflow) and
    // order-independent; equal counts + equal sums is a near-certain
    // set-equality signal used only to decide when to run the
    // authoritative anti-join — a false positive costs one wasted
    // anti-join, never a wrong answer.
    def sketch(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // The sketch rides the checkpoint's own execution as observed
    // metrics (r18): each round previously paid a SECOND job re-reading
    // the fresh checkpoint just to aggregate two values the
    // materialization pass already saw. CollectMetrics accumulates
    // during the eager localCheckpoint job, so intermediate rounds now
    // run ONE job instead of two. The listener delivering observed
    // metrics is asynchronous — poll briefly, then fall back to the
    // explicit aggregate (correctness never depends on the fast path).
    val observed = new ObservedMetrics()
    def checkpointSketched(df: DataFrame)
        : (DataFrame, Long, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = df.observe(obs,
          count(lit(1)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO)).as("h"))
        .localCheckpoint(true)
      observed.await(
        () => org.apache.spark.sql.GraftColumnBridge.observationGetOrEmpty(obs)) match {
        case Some(m) =>
          (ck, m("n").asInstanceOf[Long], m("h").asInstanceOf[java.math.BigDecimal])
        case None =>
          val (c, s) = sketch(ck)
          (ck, c, s)
      }
    }
    var (e, eCount, eSum) = checkpointSketched(
      edges
        .select(col("a").as("u"), col("b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    var iter = 0
    var converged = eCount == 0L
    while (!converged && iter < maxIter) {
      val (next, nCount, nSum) = checkpointSketched(smallStar(largeStar(e)))
      // Both sets are distinct: equal iff same size and no row of next
      // falls outside e. The && short-circuits, so the two-sided
      // anti-join shuffle only runs on the (one) suspected-fixed-point
      // round.
      converged = nCount == eCount && nSum.compareTo(eSum) == 0 &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = next
      eCount = nCount
      eSum = nSum
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter " +
          "large-star/small-star rounds — this is a bug, not a data " +
          "property (the alternation is O(log^2 n) rounds worst-case)")
    }
    // Fixed point is a union of stars rooted at each component minimum:
    // every non-root points directly at its root.
    val parents = e.groupBy(col("u").as("node"))
      .agg(min(col("v")).as("root"))
    vertices.select(col("node"))
      .join(parents, Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("root"), col("node")).as("cluster_id"))
  }
}
