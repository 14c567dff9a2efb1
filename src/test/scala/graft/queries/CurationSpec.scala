package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level checks for the q47 curation family, independent of the
  * DuckDB oracles: overlap-matrix set arithmetic on hand-built corpora
  * and the k-anonymity pooling ladder.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(rows: (Long, String, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
  }

  test("sourceOverlap computes exact pair intersection and jaccard") {
    // 2-gram sets: a = {"x y","y z"}, b = {"y z","z w"}, c = {"p q"}
    val d = docs(
      (1L, "x y z", "en", "a"),
      (2L, "y z w", "en", "b"),
      (3L, "p q", "en", "c"))
    val rows = Curation.sourceOverlap(d, 2).collect()
    assert(rows.length == 1) // only (a, b) share a gram
    val r = rows.head
    assert(r.getAs[String]("source_a") == "a")
    assert(r.getAs[String]("source_b") == "b")
    assert(r.getAs[Long]("n_common") == 1L)
    assert(r.getAs[Long]("n_a") == 2L)
    assert(r.getAs[Long]("n_b") == 2L)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-6)
  }

  test("sourceOverlap dedups repeated grams within and across docs") {
    val d = docs(
      (1L, "x y x y", "en", "a"), // "x y" twice in one doc
      (2L, "x y", "en", "a"),     // and again in another doc of a
      (3L, "x y", "en", "b"))
    val r = Curation.sourceOverlap(d, 2).collect().head
    // a's distinct grams: {"x y","y x"}; b's: {"x y"}
    assert(r.getAs[Long]("n_common") == 1L)
    assert(r.getAs[Long]("n_a") == 2L)
    assert(r.getAs[Long]("n_b") == 1L)
  }

  test("spanExcise merges overlapping and adjacent spans, keeps gaps apart") {
    // probes "a b c" and "c d e": matches at 0 ("a b c"), 2 ("c d e")
    // overlap-chain into one span [0,4]; the second "a b c" at 7 is a
    // separate island. 12 tokens, excised 5 + 3 = 8.
    val d = docs((1L, "a b c d e x y a b c z w", "en", "s"))
    val r = Curation.spanExcise(d, Seq("a b c", "c d e")).collect().head
    assert(r.getAs[Long]("n_spans") == 2L)
    assert(r.getAs[Long]("n_excised") == 8L)
    assert(r.getAs[Long]("n_tokens") == 12L)
    assert(math.abs(r.getAs[Double]("clean_frac") - (1.0 - 8.0 / 12.0)) < 1e-6)
  }

  test("spanExcise merges spans that touch end-to-end") {
    // "a b c" at 0 covers [0,2]; "d e f" at 3 covers [3,5] — adjacent
    // (start == prev_end + 1) so a single contiguous excision
    val d = docs((1L, "a b c d e f x", "en", "s"))
    val r = Curation.spanExcise(d, Seq("a b c", "d e f")).collect().head
    assert(r.getAs[Long]("n_spans") == 1L)
    assert(r.getAs[Long]("n_excised") == 6L)
  }

  test("spanExcise reports only contaminated docs") {
    val d = docs((1L, "a b c d", "en", "s"), (2L, "x y z w", "en", "s"))
    val ids = Curation.spanExcise(d, Seq("a b c"))
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(ids == Seq(1L))
  }

  test("selfExcise excises shared passages everywhere but the earliest doc") {
    // docs 1 and 2 share the 3-gram "a b c"; doc 1 (min doc_id) keeps
    // it, doc 2 loses tokens 1..3; doc 3 has no duplicated gram.
    val d = docs(
      (1L, "a b c p q", "en", "s"),
      (2L, "z a b c w", "en", "s"),
      (3L, "u v w x y", "en", "s"))
    val rows = Curation.selfExcise(d, 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_excised"), r.getAs[Long]("n_tokens")))
    assert(rows.toSeq == Seq((2L, 1L, 3L, 5L)))
  }

  test("selfExcise merges overlapping duplicate grams into one span") {
    // "a b c d" appears in docs 1 and 2: doc 2's grams "a b c" and
    // "b c d" overlap -> a single excised span of 4 tokens.
    val d = docs(
      (1L, "a b c d", "en", "s"),
      (2L, "x a b c d y", "en", "s"))
    val rows = Curation.selfExcise(d, 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_excised")))
    assert(rows.toSeq == Seq((2L, 1L, 4L)))
  }

  test("selfExcise ignores grams repeated only within one document") {
    val d = docs(
      (1L, "a b c z a b c", "en", "s"),
      (2L, "p q r s t", "en", "s"))
    assert(Curation.selfExcise(d, 3).collect().isEmpty)
  }

  /** Sequential reference for selfExcise: brute-force gram occurrence
    * lists, min-doc canonical copy, interval merge with adjacency.
    */
  private def naiveSelfExcise(
      docsSeq: Seq[(Long, String)], n: Int): Map[Long, (Long, Long, Long)] = {
    val toks = docsSeq.map { case (id, t) => id -> t.split(" ").toVector }
    val occ = for {
      (id, w) <- toks
      i <- 0 to w.length - n
    } yield (w.slice(i, i + n).mkString(" "), id, i)
    val byGram = occ.groupBy(_._1)
    val minDoc = byGram.collect {
      case (g, os) if os.map(_._2).distinct.size > 1 => g -> os.map(_._2).min
    }
    val hits = occ.filter { case (g, id, _) => minDoc.get(g).exists(_ != id) }
    val lens = toks.toMap
    hits.groupBy(_._2).map { case (id, hs) =>
      val spans = hs.map { case (_, _, i) => (i.toLong, (i + n - 1).toLong) }
        .sorted
      var merged = List.empty[(Long, Long)]
      for ((s, e) <- spans) merged = merged match {
        case (ms, me) :: rest if s <= me + 1 =>
          (ms, math.max(me, e)) :: rest
        case other => (s, e) :: other
      }
      val excised = merged.map { case (s, e) => e - s + 1 }.sum
      id -> ((merged.length.toLong, excised, lens(id).length.toLong))
    }
  }

  test("selfExcise matches the naive model on random corpora") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val docsSeq = (1L to 8L).map { id =>
        val len = 5 + rnd.nextInt(11)
        id -> Vector.fill(len)("abcde"(rnd.nextInt(5)).toString).mkString(" ")
      }
      val d = docs(docsSeq.map { case (id, t) => (id, t, "en", "s") }: _*)
      val got = Curation.selfExcise(d, 3).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_excised"),
            r.getAs[Long]("n_tokens")))).toMap
      assert(got == naiveSelfExcise(docsSeq, 3), s"trial $trial")
    }
  }

  test("kAnonStats publishes large slices and pools small ones per source") {
    val rows =
      docs(Seq.tabulate(5)(i => (i.toLong, "w w", "en", "s1")) ++
        Seq((10L, "w", "fr", "s1"), (11L, "w", "de", "s1"),
          (12L, "w", "es", "s1"), (13L, "w", "zh", "s1"),
          (14L, "w", "pt", "s1")): _*)
    val out = Curation.kAnonStats(rows, 5).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // en slice has 5 docs → published; the five 1-doc langs pool to
    // s1/__other__ with 5 docs → published after pooling
    assert(out.toSet == Set(
      ("s1", "__other__", 5L, 5L),
      ("s1", "en", 5L, 10L)))
  }

  test("kAnonStats pools still-small source pools into the global row") {
    val rows = docs(
      (1L, "w", "en", "s1"), (2L, "w", "fr", "s2"), (3L, "w", "de", "s3"))
    val out = Curation.kAnonStats(rows, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set(("__all__", "__other__", 3L, 3L)))
  }

  test("kAnonStats emits no global row when nothing is suppressed twice") {
    val rows = docs(
      (1L, "w", "en", "s1"), (2L, "w", "en", "s1"),
      (3L, "w", "fr", "s1"), (4L, "w", "de", "s1"))
    val out = Curation.kAnonStats(rows, 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSet == Set(("s1", "en", 2L), ("s1", "__other__", 2L)))
  }

  test("boilerplateExcise: untouched docs reconstruct byte-exactly, counts add up") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q55_boilerplate_excise")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 500, "one row per document")
    val orig = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // reassembly fidelity: a doc with nothing dropped is the identity
    val untouched = out.filter(_._4 == 0)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, clean, _, _) =>
      assert(clean == orig(id), s"doc $id changed despite n_dropped=0")
    }
    // something must actually be excised on this corpus, and counts are
    // conserved: kept + dropped = ceil(words / 10)
    assert(out.exists(_._4 > 0), "no boilerplate found — threshold too high for fixture")
    out.foreach { case (id, _, kept, dropped) =>
      val nWords = orig(id).split(" ").length
      assert(kept + dropped == (nWords - 1) / 10 + 1, s"doc $id block count")
    }
  }
}
