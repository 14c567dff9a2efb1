package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFns, WordNgrams, WordShingles}
import graft.operators.GlobalIndex

/** Corpus-release curation operators — the q47 family: cross-source
  * n-gram overlap (leakage matrix), k-anonymity suppression of release
  * stats, and curriculum ordering via a distributed global index.
  *
  * These are the release-gate shapes a 100 TB pipeline runs LAST:
  * measure slice-to-slice contamination before declaring splits
  * independent, suppress small-population cells from the published
  * datasheet, and write out the corpus in a deterministic curriculum
  * order that a trainer can stream without its own shuffle pass.
  */
object Curation {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Pairwise source-overlap matrix over distinct 8-gram shingle sets:
    * for every source pair (a < b) the common-gram count, both set
    * sizes, and the Jaccard. Exposed for unit testing.
    *
    * Scale shape: the gram stream is shuffled ONCE — straight into
    * `groupBy(gram).collect_set(source)` (collect_set dedups, so no
    * separate distinct pass; map-side partials cap each key's payload
    * at the source count). Set sizes come from exploding the postings —
    * a stream of ~distinct-gram scale, already far smaller than the
    * corpus. The pair stage expands each sorted posting into ordered
    * pairs IN-GROUP (cf. the q23 LSH postings list) — per-gram work is
    * quadratic only in the number of sources containing that gram,
    * bounded by the catalog's source count, never by corpus size. No
    * self-join of the gram stream.
    */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame = {
    // Hash each shingle to 8 bytes BEFORE the shuffle (cf. selfExcise and
    // Overlap.crossSourceLeakage): the postings Exchange then keys on
    // BIGINT instead of carrying the corpus's raw gram strings (~50-80 B
    // each at 100 TB). 2^-64 collision odds — same trade accepted by the
    // sibling operators; collect_set(source) semantics are unaffected.
    val postings = docs
      .select(col("source"), explode(WordShingles.word_shingles(col("text"), n)).as("gram"))
      .select(col("source"), xxhash64(col("gram")).as("g"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
    val sizes = postings
      .select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val pairs = postings
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(
        transform(sequence(lit(1), size(col("ss")) - 1), i =>
          transform(sequence(i + lit(1), size(col("ss"))), j =>
            struct(
              element_at(col("ss"), i).as("source_a"),
              element_at(col("ss"), j).as("source_b")))))).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("sz", "n_a")), "source_a")
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("sz", "n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** k-anonymity suppression of the per-(source, lang) release stats:
    * slices with >= k docs publish as-is; smaller slices pool into the
    * source's `__other__` row; pooled rows still under k pool globally
    * into (`__all__`, `__other__`). Exposed for unit testing.
    *
    * Scale shape: the only corpus-size shuffle is the first aggregate
    * (partial-combined); everything after runs on the slice table,
    * which is catalog-scale.
    */
  def kAnonStats(docs: DataFrame, k: Int): DataFrame = {
    val slices = docs
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("n_tokens"))
    val keep = slices.filter(col("n_docs") >= k)
    val pooled = slices.filter(col("n_docs") < k)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("lang", lit("__other__"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"))
    val keepPooled = pooled.filter(col("n_docs") >= k)
    val global = pooled.filter(col("n_docs") < k)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs").isNotNull)
      .select(lit("__all__").as("source"), lit("__other__").as("lang"),
        col("n_docs"), col("n_tokens"))
    keep.unionByName(keepPooled).unionByName(global)
      .orderBy("source", "lang")
  }

  /** Span-level decontamination: instead of dropping every document
    * that contains a benchmark phrase (q46_contamination_join's doc
    * verdict), locate each contaminated 3-gram's token span, merge
    * overlapping-or-adjacent spans per document (gaps-and-islands over
    * running max-end), and report how much of the document survives
    * excision. Exposed for unit testing.
    *
    * Scale shape: the corpus is tokenized once, matching is a
    * codegen'd IN-list here (a broadcast join once the probe set is
    * benchmark-suite-sized), and the island windows partition BY
    * DOCUMENT — no global window, parallel across the corpus.
    */
  def spanExcise(docs: DataFrame, probes: Seq[String]): DataFrame = {
    val matches = docs
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        posexplode(WordNgrams.word_ngrams(col("text"), 3)))
      .filter(col("col").isin(probes: _*))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("s"), (col("pos") + 2).cast("long").as("e"))
    excisionReport(matches)
  }

  /** Merge overlapping-or-adjacent token spans per document
    * (gaps-and-islands over the running max end) and report per-doc
    * span count, excised-token count, and surviving fraction. Input
    * columns: `doc_id, n_tokens, s, e` (inclusive 0-based spans).
    * All windows partition BY DOCUMENT — parallel across the corpus.
    */
  private def excisionReport(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    matches
      .withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("isl",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("n_tokens"), col("isl"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("se"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss") + 1).cast("long").as("n_excised"))
      .select(col("doc_id"), col("n_spans"), col("n_excised"), col("n_tokens"),
        round(lit(1.0) - col("n_excised").cast("double") /
          col("n_tokens").cast("double"), 6).as("clean_frac"))
      .orderBy("doc_id")
  }

  /** Corpus-internal duplicate-passage excision (the substring-level
    * companion of document dedup): any `n`-gram that occurs in more
    * than one document is a duplicated passage; every occurrence
    * OUTSIDE the earliest document containing that gram (min doc_id —
    * the canonical copy) is marked, marked spans are merged per doc,
    * and the per-doc excision report is returned. Only docs that lose
    * at least one span appear. Exposed for unit testing.
    *
    * Scale shape: the gram stream is shuffled once into a window that
    * gives each occurrence its gram's `min/max(doc_id)` (a gram is
    * cross-doc duplicated iff min < max — no countDistinct pass, no
    * self-join of positions), and the island merge windows partition by
    * document. Nothing is ever quadratic in corpus size. The window
    * keys on `xxhash64(gram)` rather than the gram string itself, so
    * every shuffle row carries 8 bytes of key instead of an n-token
    * string (the same fingerprint trick as exact dedup; a 64-bit
    * collision — ~corpus²/2⁶⁵ — is the accepted approximation, as in
    * q22_dedup_fingerprint).
    */
  def selfExcise(docs: DataFrame, n: Int): DataFrame = {
    // fanOut: the tokenize→ngram→hash stream below is the expensive
    // per-row stage; on a one-split input it would otherwise run in a
    // single task (no-op on an already-parallel scan)
    val grams = Tables.fanOut(docs)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        posexplode(WordNgrams.word_ngrams(col("text"), n)))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("s"),
        (col("pos") + (n - 1)).cast("long").as("e"),
        xxhash64(col("col")).as("gh"))
    // min/max doc per gram as a WINDOW over the gram key instead of a
    // groupBy + join-back (r17): the old shape shuffled the gram
    // stream for the join AND re-ran the whole tokenize→ngram→hash
    // subtree to build the aggregate side (Spark cannot share an
    // uncached subtree across a self-join). One partition-by-gh window
    // computes the same min/max with ONE pass over the corpus and ONE
    // exchange; the window partitions by a corpus-cardinality key, so
    // per-group state is bounded by a gram's document frequency
    // (WindowGuard-clean). Identical rows: a gram is cross-doc
    // duplicated iff min < max, and occurrences outside the canonical
    // (min) doc are kept — same predicate, same columns.
    val w = Window.partitionBy(col("gh"))
    val hits = grams
      .withColumn("min_doc", min(col("doc_id")).over(w))
      .withColumn("max_doc", max(col("doc_id")).over(w))
      .filter(col("min_doc") < col("max_doc") &&
        col("doc_id") =!= col("min_doc"))
      .select(col("doc_id"), col("n_tokens"), col("s"), col("e"))
    excisionReport(hits)
  }

  private val contaminationProbes = Seq(
    "table key filter", "row column sort", "stream table hash",
    "quantum flux capacitor")

  val all: Seq[QueryDef] = Seq(
    // --------------------------------------- cross-source leakage matrix
    QueryDef(
      "q47_source_overlap",
      (s, dir) => sourceOverlap(t(s, dir, "documents"), 8),
      Some("""WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
             |g0 AS (SELECT DISTINCT source, g FROM (
             |  SELECT source,
             |         unnest([array_to_string(w[i:i+7], ' ')
             |                 FOR i IN range(1, len(w) - 6)]) AS g
             |  FROM d WHERE len(w) >= 8)),
             |sz AS (SELECT source, count(*) AS sz FROM g0 GROUP BY source),
             |cm AS (SELECT a.source AS source_a, b.source AS source_b,
             |              count(*) AS n_common
             |       FROM g0 a JOIN g0 b ON a.g = b.g AND a.source < b.source
             |       GROUP BY 1, 2)
             |SELECT source_a, source_b,
             |  CAST(n_common AS BIGINT) AS n_common,
             |  CAST(sa.sz AS BIGINT) AS n_a,
             |  CAST(sb.sz AS BIGINT) AS n_b,
             |  round(CAST(n_common AS DOUBLE) /
             |        CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
             |FROM cm
             |JOIN sz sa ON cm.source_a = sa.source
             |JOIN sz sb ON cm.source_b = sb.source
             |ORDER BY source_a, source_b""".stripMargin),
      bench = true),

    // ------------------------------------------ k-anonymity suppression
    QueryDef(
      "q47_k_anon",
      (s, dir) => kAnonStats(t(s, dir, "documents"), 5),
      Some("""WITH s AS (
             |  SELECT source, lang, count(*) AS n_docs,
             |         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
             |              AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source, lang),
             |pooled AS (
             |  SELECT source, '__other__' AS lang,
             |         CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |  FROM s WHERE n_docs < 5 GROUP BY source)
             |SELECT source, lang, n_docs, n_tokens FROM s WHERE n_docs >= 5
             |UNION ALL
             |SELECT source, lang, n_docs, n_tokens FROM pooled WHERE n_docs >= 5
             |UNION ALL
             |SELECT '__all__' AS source, '__other__' AS lang,
             |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
             |FROM pooled WHERE n_docs < 5 HAVING count(*) > 0
             |ORDER BY source, lang""".stripMargin)),

    // ------------------------------- curriculum order via global index
    // Length-staged curriculum (short docs warm up, long docs finish)
    // with a deterministic md5 shuffle inside each stage. The position
    // column comes from operators/GlobalIndex — one range shuffle, no
    // single-partition window — so the same plan stands at 100 TB;
    // the DuckDB oracle is the single-window formulation, proving the
    // distributed index IS row_number over the total order.
    QueryDef(
      "q47_curriculum",
      (s, dir) => {
        val staged = t(s, dir, "documents")
          .select(col("doc_id"),
            when(size(TextFns.tokens(col("text"))) < 40, 0L)
              .when(size(TextFns.tokens(col("text"))) < 70, 1L)
              .otherwise(2L).as("stage"),
            md5(col("doc_id").cast("string")).as("r"))
        GlobalIndex
          .withPosition(staged, Seq(col("stage"), col("r"), col("doc_id")),
            "pos", 8)
          .select(col("doc_id"), col("stage"), col("pos"))
          .orderBy("pos")
      },
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    CASE WHEN len(string_split(text, ' ')) < 40 THEN 0
             |         WHEN len(string_split(text, ' ')) < 70 THEN 1
             |         ELSE 2 END AS stage,
             |    md5(CAST(doc_id AS VARCHAR)) AS r
             |  FROM documents)
             |SELECT doc_id, CAST(stage AS BIGINT) AS stage,
             |  CAST(row_number() OVER (ORDER BY stage, r, doc_id) AS BIGINT)
             |    AS pos
             |FROM s ORDER BY pos""".stripMargin)),

    // ------------------------------------ span-level decontamination
    QueryDef(
      "q47_span_excise",
      (s, dir) => spanExcise(t(s, dir, "documents"), contaminationProbes),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
             |           FROM documents),
             |m AS (
             |  SELECT doc_id, i - 1 AS s, i + 1 AS e,
             |         CAST(len(w) AS BIGINT) AS n_tokens
             |  FROM d, unnest(range(1, len(w) - 1)) AS t(i)
             |  WHERE w[i] || ' ' || w[i+1] || ' ' || w[i+2] IN
             |    ('table key filter', 'row column sort',
             |     'stream table hash', 'quantum flux capacitor')),
             |x AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM m),
             |y AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END
             |      AS brk
             |  FROM x),
             |z AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
             |      ROWS UNBOUNDED PRECEDING) AS isl
             |  FROM y),
             |sp AS (
             |  SELECT doc_id, n_tokens, isl, min(s) AS ss, max(e) AS se
             |  FROM z GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(se - ss + 1) AS BIGINT) AS n_excised,
             |  n_tokens,
             |  round(1.0 - CAST(sum(se - ss + 1) AS DOUBLE) /
             |        CAST(n_tokens AS DOUBLE), 6) AS clean_frac
             |FROM sp GROUP BY doc_id, n_tokens
             |ORDER BY doc_id""".stripMargin),
      bench = true),

    // --------------------------- corpus-internal duplicate passages
    QueryDef(
      "q47_self_excise",
      (s, dir) => selfExcise(t(s, dir, "documents"), 8),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
             |           FROM documents),
             |g0 AS (
             |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             |         CAST(i - 1 AS BIGINT) AS s, CAST(i + 6 AS BIGINT) AS e,
             |         array_to_string(w[i:i+7], ' ') AS g
             |  FROM d, unnest(range(1, len(w) - 6)) AS t(i)
             |  WHERE len(w) >= 8),
             |dup AS (
             |  SELECT g, min(doc_id) AS min_doc FROM g0 GROUP BY g
             |  HAVING min(doc_id) < max(doc_id)),
             |m AS (
             |  SELECT doc_id, n_tokens, s, e
             |  FROM g0 JOIN dup USING (g) WHERE doc_id <> min_doc),
             |x AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM m),
             |y AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END
             |      AS brk
             |  FROM x),
             |z AS (
             |  SELECT doc_id, n_tokens, s, e,
             |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
             |      ROWS UNBOUNDED PRECEDING) AS isl
             |  FROM y),
             |sp AS (
             |  SELECT doc_id, n_tokens, isl, min(s) AS ss, max(e) AS se
             |  FROM z GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(se - ss + 1) AS BIGINT) AS n_excised,
             |  n_tokens,
             |  round(1.0 - CAST(sum(se - ss + 1) AS DOUBLE) /
             |        CAST(n_tokens AS DOUBLE), 6) AS clean_frac
             |FROM sp GROUP BY doc_id, n_tokens
             |ORDER BY doc_id""".stripMargin),
      bench = true),

    // ------------------------------------- boilerplate block removal
    // CCNet/RefinedWeb-style boilerplate excision: chop each document
    // into non-overlapping 10-word blocks, drop every block that occurs
    // in >= 3 DISTINCT documents (nav bars, license headers, templated
    // chrome), and reassemble the survivors in order. Differs from
    // q47_span_excise (probe-suite-driven) and q47_self_excise
    // (pairwise positional overlap): the signal here is corpus-wide
    // block FREQUENCY. Scale shape: blocks are xxhash64-hashed to 8-byte
    // keys before both shuffles (the distinct pass and the left_anti
    // join back), so no shuffle carries block text; the reassembly
    // aggregate is partitioned by doc_id. The oracle groups by the raw
    // block string — identical result barring a 2^-64 hash collision,
    // the same trade every hashed-gram operator here accepts.
    QueryDef(
      "q55_boilerplate_excise",
      (s, dir) => {
        val block = 10
        val minDocs = 3
        val w = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val blocks = w
          .select(col("doc_id"), posexplode(
            transform(
              sequence(lit(0), ((size(col("w")) - 1) / block).cast("int")),
              i => concat_ws(" ", slice(col("w"), i * block + 1, lit(block)))))
            .as(Seq("bi", "blk")))
          .withColumn("bh", xxhash64(col("blk")))
        val common = blocks.select(col("bh"), col("doc_id")).distinct()
          .groupBy("bh").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= minDocs)
        val kept = blocks.join(common, Seq("bh"), "left_anti")
        val cleaned = kept.groupBy("doc_id").agg(
          count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("bi"), col("blk")))),
              x => x.getField("blk")), " ").as("text_clean"))
        blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
          .join(cleaned, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("text_clean"), lit("")).as("text_clean"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |b AS (SELECT doc_id, CAST(i AS BIGINT) AS bi,
             |        array_to_string(list_slice(w, i*10+1, i*10+10), ' ') AS blk
             |      FROM d, unnest(generate_series(0, (len(w)-1)//10)) AS t(i)),
             |c AS (SELECT blk FROM (
             |        SELECT blk, count(DISTINCT doc_id) AS nd FROM b GROUP BY blk)
             |      WHERE nd >= 3),
             |k AS (SELECT * FROM b WHERE blk NOT IN (SELECT blk FROM c)),
             |g AS (SELECT doc_id, count(*) AS n_kept,
             |        array_to_string(list(blk ORDER BY bi), ' ') AS text_clean
             |      FROM k GROUP BY doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_blocks FROM b GROUP BY doc_id)
             |SELECT tot.doc_id, COALESCE(text_clean, '') AS text_clean,
             |  COALESCE(n_kept, 0) AS n_kept,
             |  tot.n_blocks - COALESCE(n_kept, 0) AS n_dropped
             |FROM tot LEFT JOIN g USING (doc_id) ORDER BY tot.doc_id""".stripMargin),
      bench = true))
}
