package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components correctness: synthetic graphs with known
  * components, plus the q23_dedup_clusters invariants on real test data.
  */
class DedupClusterSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def components(
      nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val v = nodes.toDF("node")
    val e = edges.toDF("a", "b")
    DedupCluster.connectedComponents(v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, clique, and isolated nodes resolve to min-id components") {
    val got = components(
      nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L),
      // chain 1-2-3-4 (diameter 3 forces multiple propagation rounds),
      // triangle 5-6-7, isolated 8
      edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L)))
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))
  }

  test("long path converges within the iteration cap") {
    val n = 17L
    val got = components(
      nodes = (1L to n),
      edges = (1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L))
  }

  test("deep-diameter path (200 nodes) converges — diameter-independent") {
    // Min-label propagation needs O(diameter) rounds and would silently
    // split this under a 20-round cap; large-star/small-star is O(log n).
    val n = 200L
    val got = components(
      nodes = (1L to n),
      edges = (1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L))
  }

  test("observed-metric wait: delivered metrics pass through unchanged") {
    val m = Map[String, Any]("n" -> 3L)
    var calls = 0
    val late = () => { calls += 1; if (calls >= 3) m else Map.empty[String, Any] }
    assert(new DedupCluster.ObservedMetrics().await(late) == Some(m))
    assert(calls == 3)
    assert(new DedupCluster.ObservedMetrics().await(() => m) == Some(m))
  }

  test("observed-metric wait: after one miss, later rounds do not wait") {
    val timeoutNs = 200000000L
    val poll = new DedupCluster.ObservedMetrics(timeoutNs)
    var calls = 0
    val never = () => { calls += 1; Map.empty[String, Any] }
    val t0 = System.nanoTime()
    assert(poll.await(never).isEmpty)
    assert(System.nanoTime() - t0 >= timeoutNs, "the first miss waits out its timeout")
    assert(calls > 1)
    calls = 0
    val t1 = System.nanoTime()
    assert(poll.await(never).isEmpty)
    assert(calls == 1, "the second miss reads the supplier once and does not poll")
    assert(System.nanoTime() - t1 < timeoutNs)
    // metrics that are already there are still used
    assert(poll.await(() => Map("n" -> 1L)) == Some(Map("n" -> 1L)))
  }

  test("q23_dedup_clusters groups exactly the transitive near-dup pairs") {
    val pairs = graft.SparkEntry.queries("q23_jaccard_pairs")(spark, sf)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = graft.SparkEntry.queries("q23_dedup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    assert(clusters.size.toLong == nDocs, "every document gets a cluster id")
    assert(clusters.forall { case (d, c) => c <= d }, "cluster id is a component min")
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // singleton docs keep their own id
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.collect { case (d, c) if !inPairs.contains(d) =>
      assert(c == d, s"isolated doc $d moved to cluster $c")
    }
  }
}
