package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{HeavyHitters, TopKDoubles}

/** Q20 streaming queries (batch-equivalent, DuckDB-oracle checked) and the
  * Q21 typed-Aggregator surface.
  */
object Streaming {

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q20_stream_tumbling",
      (s, dir) => graft.streaming.StreamOps.tumbling(s, dir)
        .withColumn("w_start", col("w_start").cast("timestamp")),
      Some("""SELECT date_trunc('hour', ts) AS w_start, event_type,
             |       count(*) AS n_events
             |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    QueryDef(
      "q20_stream_sliding",
      (s, dir) => graft.streaming.StreamOps.sliding(s, dir),
      // each event contributes to the window starting at its hour and the
      // one starting an hour earlier (2h windows sliding by 1h)
      Some("""SELECT w_start, count(*) AS n_events FROM (
             |  SELECT date_trunc('hour', ts) AS w_start FROM events
             |  UNION ALL
             |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w_start FROM events)
             |GROUP BY w_start ORDER BY w_start""".stripMargin)),

    QueryDef(
      "q20_stream_dedup",
      (s, dir) => graft.streaming.StreamOps.dedupState(s, dir),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Custom keyed state (flatMapGroupsWithState): per-user counts and an
    // exact cents total — batch-equivalent on bounded input.
    QueryDef(
      "q20_stream_stateful",
      (s, dir) => graft.streaming.StreamOps.statefulCounts(s, dir),
      Some("""SELECT user_id, count(*) AS n_events,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Session windows (30-minute gap) in batch form; the same
    // session_window call runs under streaming with a watermark. Oracle is
    // the classic gaps-and-islands formulation.
    QueryDef(
      "q20_session_windows",
      (s, dir) =>
        Tables.load(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session_window.start").as("s_start"), col("n_events"))
          .orderBy("user_id", "s_start"),
      Some("""WITH flagged AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |numbered AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |                     ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged)
             |SELECT user_id, min(ts) AS s_start, count(*) AS n_events
             |FROM numbered GROUP BY user_id, sid
             |ORDER BY user_id, s_start""".stripMargin)),

    // Stream-stream inner join with two-sided watermarks (see
    // StreamOps.streamStreamJoin); oracle is the batch time-range join.
    QueryDef(
      "q20_stream_join",
      (s, dir) => graft.streaming.StreamOps.streamStreamJoin(s, dir),
      Some("""SELECT a.user_id AS user_id, count(*) AS n_pairs
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id
             | AND a.event_type = 'click' AND b.event_type = 'purchase'
             | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
             |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)),

    // Stream-static enrichment join against a broadcast dimension.
    QueryDef(
      "q20_stream_static_join",
      (s, dir) => graft.streaming.StreamOps.streamStaticJoin(s, dir),
      Some("""SELECT c_mktsegment, count(*) AS n_events
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // foreachBatch CDC upsert into a versioned parquet snapshot; the
    // precedence-compared merge makes the final state equal to a global
    // per-user argmax regardless of micro-batch boundaries.
    QueryDef(
      "q20_stream_upsert",
      (s, dir) => graft.streaming.StreamOps.streamUpsert(s, dir),
      Some("""WITH latest AS (
             |  SELECT user_id, event_type, ts,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT event_type, count(*) AS n_users, max(ts) AS last_ts
             |FROM latest WHERE rn = 1
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Incremental SCD2 maintenance from the CDC stream (foreachBatch:
    // bronze append + affected-user history rebuild + version publish);
    // final history equals the batch q33_scd2 derivation regardless of
    // micro-batch slicing or arrival order — see StreamOps.streamScd2.
    QueryDef(
      "q20_stream_scd2",
      (s, dir) => graft.streaming.StreamOps.streamScd2(s, dir),
      Some("""WITH ordered AS (
             |  SELECT user_id, event_type, ts, event_id,
             |         lag(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |changes AS (
             |  SELECT user_id, event_type, ts, event_id FROM ordered
             |  WHERE prev_type IS NULL OR prev_type <> event_type),
             |hist AS (
             |  SELECT user_id, event_type, ts AS valid_from,
             |    coalesce(lead(ts) OVER (PARTITION BY user_id
             |               ORDER BY ts, event_id),
             |             TIMESTAMP '2200-01-01 00:00:00') AS valid_to
             |  FROM changes)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
             |  CAST(sum(CASE WHEN valid_to = TIMESTAMP '2200-01-01 00:00:00'
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
             |  max(valid_from) AS last_change_ts
             |FROM hist GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Spark 4 transformWithState (the modern arbitrary-state API —
    // typed ValueState/MapState, declarative per-state TTL, RocksDB
    // store): per-user running count / exact cents / distinct-type set.
    // Commutative aggregates → the final emitted version per user
    // equals the batch rollup under any slicing or arrival order.
    QueryDef(
      "q20_stream_tws_stats",
      (s, dir) => graft.streaming.StreamOps.streamUserStatsTws(s, dir),
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      bench = true),

    // Warm-started transformWithState (StatefulProcessorWithInitialState):
    // state bootstrapped from a batch aggregate of the even-event_id half,
    // stream delivers only the odd half — yet every emitted user equals
    // the FULL-corpus rollup, proving batch→stream state continuity.
    // Oracle restricts to users the stream touches (bootstrap-only users
    // hold state but, with no input row, never emit).
    QueryDef(
      "q20_stream_tws_bootstrap",
      (s, dir) => graft.streaming.StreamOps.streamUserStatsBootstrap(s, dir),
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
             |FROM events
             |WHERE user_id IN
             |  (SELECT user_id FROM events WHERE event_id % 2 = 1)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Streaming priority sample: the k-row weighted reservoir of
    // everything seen so far, maintained across micro-batches. Priority
    // is deterministic per doc and top-k is an associative monoid fold,
    // so the stream result equals the batch q48 top-k for ANY slicing —
    // which is why it can face the very same oracle.
    QueryDef(
      "q20_stream_sample",
      (s, dir) => graft.streaming.StreamOps.streamPrioritySample(s, dir),
      // literally q48_priority_sample's oracle: the stream must converge
      // to the batch sample, so they share one definition
      Some(Sampling.prioritySampleOracle)),

    // Misra-Gries heavy-hitters sketch (functions.HeavyHitters): one pass,
    // 32 counters per partial, shuffle carries sketches not distinct
    // items. The MG guarantee — every item with true frequency > n/(k+1)
    // survives ANY partitioning/merge order — is deterministic even
    // though the extra candidates are not, so the query emits the exact
    // heavy-hitter count and the (provably-true) coverage check, both
    // hash-stable.
    QueryDef(
      "q21_heavy_hitters",
      (s, dir) => {
        val hh = udaf(new HeavyHitters(32), org.apache.spark.sql.Encoders.scalaLong)
        val toks = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .select(xxhash64(col("tok")).as("h"))
        val cands = toks.agg(hh(col("h")).as("sk"))
          .select(explode(map_keys(col("sk"))).as("cand"))
        val tot = toks.agg(count(lit(1)).as("n"))
        val trueHH = toks.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .crossJoin(tot)
          .filter(col("c") > col("n") / lit(33.0))
        val uncovered = trueHH.join(cands, col("h") === col("cand"), "left_anti")
          .agg(count(lit(1)).as("n_uncovered"))
        trueHH.agg(count(lit(1)).as("n_true_hh"), max(col("n")).as("n_tokens"))
          .crossJoin(uncovered)
          .select(col("n_true_hh"), (col("n_uncovered") === 0).as("all_covered"),
            col("n_tokens"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |tot AS (SELECT count(*) AS n FROM tok),
             |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cnt, tot WHERE c > n / 33.0) AS n_true_hh,
             |       true AS all_covered,
             |       (SELECT CAST(n AS BIGINT) FROM tot) AS n_tokens""".stripMargin)),

    // Typed Aggregator top-k: top-3 order prices per customer, exploded to
    // rows so the oracle compare stays scalar-typed.
    QueryDef(
      "q21_topk_aggregator",
      (s, dir) => {
        import s.implicits._
        val topk = udaf(new TopKDoubles(3))
        Tables.load(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(topk(col("o_totalprice")).as("top_prices"))
          .select(col("o_custkey"), posexplode(col("top_prices")).as(Seq("rk", "price")))
          .select(col("o_custkey"), (col("rk") + 1).cast("long").as("rk"), col("price"))
          .orderBy("o_custkey", "rk")
      },
      Some("""SELECT o_custkey, CAST(rk AS BIGINT) AS rk, price FROM (
             |  SELECT o_custkey, o_totalprice AS price,
             |         row_number() OVER (PARTITION BY o_custkey
             |             ORDER BY o_totalprice DESC) AS rk
             |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),

    // Ingestion-time near-dup: per-band-bucket keyed state emits
    // candidate pairs as documents stream in; exact verification makes
    // the result arrival-order- and batch-boundary-independent, so it
    // faces the SAME oracle as the batch LSH pipeline (see
    // StreamOps.streamNearDup for the state/scale notes).
    QueryDef(
      "q20_stream_neardup",
      (s, dir) => graft.streaming.StreamOps.streamNearDup(s, dir),
      Some(LlmOps.duckJaccardPairsSql)),

    // Ingestion-time drift monitor: per-day fixed-edge bucket counts of
    // `value` maintained as streaming state, scored per day against the
    // static full-corpus reference with the population stability index
    // (the q29_drift_psi shape run on the stream; see
    // StreamOps.streamDrift for the state/scale notes).
    QueryDef(
      "q20_stream_drift",
      (s, dir) => graft.streaming.StreamOps.streamDrift(s, dir),
      Some("""WITH e AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |         least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket
             |  FROM events),
             |c AS (SELECT day, bucket, count(*) AS n FROM e GROUP BY 1, 2),
             |tot AS (SELECT day, sum(n) AS tot FROM c GROUP BY 1),
             |r AS (SELECT bucket, count(*) AS n_ref FROM e GROUP BY 1),
             |rt AS (SELECT sum(n_ref) AS rt FROM r),
             |grid AS (
             |  SELECT d.day, b.bucket
             |  FROM (SELECT DISTINCT day FROM e) d
             |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b),
             |sm AS (
             |  SELECT g.day,
             |    (coalesce(c.n, 0) + 1.0) / (tot.tot + 10.0) AS p_cur,
             |    (coalesce(r.n_ref, 0) + 1.0) / (rt.rt + 10.0) AS p_ref
             |  FROM grid g
             |  LEFT JOIN c ON c.day = g.day AND c.bucket = g.bucket
             |  JOIN tot ON tot.day = g.day
             |  LEFT JOIN r ON r.bucket = g.bucket, rt)
             |SELECT day, round(sum((p_cur - p_ref) * ln(p_cur / p_ref)), 6)
             |  AS psi
             |FROM sm GROUP BY day ORDER BY day""".stripMargin)),

    // Ingestion-time quality filter: the q61 perceptron trained offline
    // (batch), its best-F1 cutoff calibrated offline (q61 sweep), then
    // served on the document stream by the native codegen'd
    // PerceptronMarginF kernel, one expression per arriving row — the
    // deploy step of train→calibrate→filter.
    // The oracle replays training + calibration (shared CTE prefixes)
    // and scores every doc with the final weights and cutoff.
    QueryDef(
      "q20_stream_quality",
      (s, dir) => graft.streaming.StreamOps.streamQuality(s, dir),
      Some(Classifier.perceptronSweepSql + ",\n" +
        """curve AS (SELECT m,
          |    round(2.0 * tp / (2 * tp + (ctot - tp) + (pos_total - tp)), 9)
          |      AS f1
          |  FROM c, tot),
          |best AS (SELECT m FROM curve ORDER BY f1 DESC, m LIMIT 1)
          |SELECT d.lang, (s.dot >= (SELECT m FROM best)) AS keep,
          |       count(*) AS n
          |FROM s5 s JOIN documents d ON s.doc_id = d.doc_id
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin)),

    // Streaming continuation of q68: arriving vector micro-batches are
    // appended to the PERSISTED IVF-PQ index via foreachBatch — frozen
    // cells + frozen codebooks, one new index generation per trigger,
    // O(micro-batch) work, no retrain, no state store (the durable
    // index IS the state). Contracts: full coverage, multi-trigger
    // delivery, and serving equality (ids AND ADC distances) with a
    // one-shot batch append of the same vectors — micro-batch slicing
    // must not change the index.
    QueryDef(
      "q69_stream_index_append",
      (s, dir) => graft.streaming.StreamOps.streamIndexAppend(s, dir),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_index,
             |  CAST(sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_arrived,
             |  true AS multi_trigger_ok,
             |  CAST(10 AS BIGINT) AS n_results,
             |  true AS same_as_batch_append
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // Streaming DELETES for the persisted ANN index — the other half of
    // q69's lifecycle (q70 proved tombstones + compaction batch-side;
    // this wires the tombstone path into the stream). Each micro-batch
    // of delete requests lands one persisted tombstone generation (tiny
    // id set, zero index rewrite), and serving anti-joins the union of
    // tombstone generations before scoring. Contracts: multi-trigger
    // delivery, serving equality (ids AND ADC distances) with a
    // one-shot batch delete of the same id set, and the q70 structural
    // negative control — the delete set contains the raw top-1 id, so
    // raw serving provably surfaces a deleted id at ANY data
    // generation; an anti-join dropped from the serve path cannot pass.
    QueryDef(
      "q75_stream_index_delete",
      (s, dir) => graft.streaming.StreamOps.streamIndexDelete(s, dir),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_index,
             |  true AS multi_trigger_ok,
             |  CAST(10 AS BIGINT) AS n_results,
             |  true AS deletes_visible_raw,
             |  true AS same_as_batch_delete
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // The retrain trigger riding the streaming append path (q69 + q76
    // composed): each micro-batch lands one index generation AND one
    // drift row — per-generation cell-occupancy PSI against the base
    // occupancy persisted at build time, both sides read from STORED
    // codes (the index is its own assignment record; one K-row count
    // per trigger, no vector re-assigned). In-dist arrivals stream
    // first (3 round-robin micro-batches), then a deliberately drifted
    // batch with marker ids. Contracts: 4 triggers, multi-trigger clean
    // delivery, no clean generation demands a retrain, the drifted one
    // does.
    QueryDef(
      "q78_stream_index_drift",
      (s, dir) => graft.streaming.StreamOps.streamIndexDrift(s, dir),
      Some("""SELECT CAST(4 AS BIGINT) AS n_triggers,
             |  true AS multi_trigger_ok,
             |  true AS clean_quiet,
             |  CAST(1 AS BIGINT) AS n_drifted,
             |  true AS drifted_fires""".stripMargin)),

    // The CLOSED drift loop on the stream (q69 + q78 + q81 composed):
    // every micro-batch appends through annMaybeRetrain — quiet batches
    // cost O(batch), the drifted one retrains INLINE and the serving
    // pointer switches mid-stream, and the post-retrain batch (a
    // fresh-id copy of the merged corpus, so its in-distribution
    // property is exact) must append QUIETLY on the retrained index:
    // the loop iterates with no operator in it. Final serving covers
    // base + every arrival exactly once = 2 × n(embeddings ≠ 0).
    QueryDef(
      "q84_stream_index_retrain",
      (s, dir) => graft.streaming.StreamOps.streamIndexRetrain(s, dir),
      Some("""SELECT CAST(4 AS BIGINT) AS n_triggers,
             |  true AS clean_quiet,
             |  true AS drift_fires_once,
             |  true AS post_quiet,
             |  CAST(2 * count(*) AS BIGINT) AS n_index,
             |  true AS ids_unique,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q84 with the ASYNC retrain handoff — the 100 TB shape: the fired
    // trigger only REQUESTS a retrain (durable record + concurrent
    // thread over the persisted corpus snapshot); the stream keeps
    // appending frozen-encoded generations while it trains (both "gap"
    // batches provably land in flight), and the first trigger to see
    // the done marker folds the gap generations under the new model
    // and flips the serving pointer with one durable switch record.
    // Contracts: 5 triggers; clean+gap quiet; drift fires exactly once;
    // both gaps inflight; post runs ON the retrained pointer, quietly;
    // serving covers base + every arrival exactly once; the streamed
    // serving state is row-identical to a one-shot re-encode of the
    // same raws under the same persisted model.
    // The FULL streamed lifecycle with BOTH creep families bounded
    // (q69 + q75 + q87 composed): micro-batches carry adds AND deletes;
    // code generations fold into a cell-clustered epoch PRE-APPLYING
    // the tombstone set, tombstone generations fold into one id-set
    // epoch that is NEVER absorbed (a late re-delivery of a deleted id
    // must stay dead — the stream re-delivers half the deleted ids and
    // the one-shot equality proves they do). 8 triggers, 2 code folds,
    // 1 tombstone fold, both families ≤ 3 dirs at every trigger.
    QueryDef(
      "q88_stream_lifecycle",
      (s, dir) => graft.streaming.StreamOps.streamIndexLifecycle(s, dir),
      Some("""SELECT CAST(8 AS BIGINT) AS n_triggers,
             |  CAST(2 AS BIGINT) AS code_folds,
             |  CAST(1 AS BIGINT) AS tomb_folds,
             |  true AS both_bounded,
             |  CAST(count(CASE WHEN vec_id % 10 = 9 OR vec_id % 7 <> 3
             |                  THEN 1 END) AS BIGINT) AS n_live,
             |  true AS ids_unique,
             |  true AS lifecycle_invisible,
             |  true AS raw_carries_redelivered,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q88 with the tombstone HORIZON PURGE made real (the one
    // unbounded artifact capped): at tombstone-fold time an id is
    // dropped iff its delete landed at-or-before the delivery
    // watermark AND no serving code part still physically carries its
    // rows. Both sides proven in-stream: a re-delivery of a
    // still-tombstoned id stays dead; a re-delivery of a PURGED id
    // resurfaces (the documented at-your-own-risk price of the bound).
    QueryDef(
      "q91_stream_tomb_purge",
      (s, dir) => graft.streaming.StreamOps.streamIndexLifecyclePurge(s, dir),
      Some("""SELECT CAST(8 AS BIGINT) AS n_triggers,
             |  CAST(2 AS BIGINT) AS code_folds,
             |  CAST(1 AS BIGINT) AS tomb_folds,
             |  true AS both_bounded,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 21 IN (3, 10) THEN 1 END)
             |    AS BIGINT) AS n_purged,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 21 = 17 THEN 1 END)
             |    AS BIGINT) AS tomb_epoch_rows,
             |  CAST(count(CASE WHEN vec_id % 10 = 9 OR vec_id % 7 <> 3
             |                  THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 42 = 3 THEN 1 END)
             |    AS BIGINT) AS n_live,
             |  true AS ids_unique,
             |  true AS lifecycle_invisible,
             |  true AS inside_horizon_redelivery_dead,
             |  true AS purged_redelivery_resurfaces,
             |  true AS raw_carries_redelivered,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q91 under an ADVANCING horizon — the production shape (r13 task
    // 5): TWO tombstone folds, each purging against horizon =
    // fold_gen − lag. Proves what a single purge cannot: the epoch
    // stays bounded ACROSS purges (per-fold n_purged from the durable
    // tombstone manifests, final epoch = |D3|+|D2|, not cumulative); a
    // re-deleted id's RESTARTED clock survives the first purge and
    // qualifies at the second; the physically-carried condition stays
    // load-bearing late (D3 ages inside horizon 2 but its rows
    // postdate the last code fold — purging it would resurrect them).
    QueryDef(
      "q92_stream_multi_purge",
      (s, dir) =>
        graft.streaming.StreamOps.streamIndexLifecycleMultiPurge(s, dir),
      Some("""SELECT CAST(10 AS BIGINT) AS n_triggers,
             |  CAST(2 AS BIGINT) AS code_folds,
             |  CAST(2 AS BIGINT) AS tomb_folds,
             |  true AS both_bounded,
             |  true AS horizons_advanced,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 42 = 24 THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 21 = 10 THEN 1 END)
             |    AS BIGINT) AS n_purged_1,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 42 = 3 THEN 1 END)
             |    AS BIGINT) AS n_purged_2,
             |  CAST(count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 21 IN (10, 17) THEN 1 END)
             |    AS BIGINT) AS tomb_epoch_rows,
             |  CAST(count(CASE WHEN vec_id % 10 = 9 OR vec_id % 7 <> 3
             |                  THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 <> 9
             |                  AND vec_id % 42 = 3 THEN 1 END)
             |    AS BIGINT) AS n_live,
             |  true AS ids_unique,
             |  true AS lifecycle_invisible,
             |  true AS inside_horizon_redelivery_dead,
             |  true AS purged_redelivery_resurfaces,
             |  true AS raw_carries_redelivered,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // TIME-TRAVEL serving from the durable switch log (round 14): the
    // index family's serving state is a pure function of durable
    // records, so "what did the index serve AS OF generation G?" is
    // answerable offline with no snapshot ever taken — the
    // reproducibility/audit question months-old training batches get
    // asked. Three as-of points spanning pre-first-switch, mid-cycle,
    // and at-the-second-adoption, each row-identical to a one-shot
    // re-encode under the same persisted as-of models.
    QueryDef(
      "q93_index_asof",
      (s, dir) => graft.streaming.StreamOps.indexServeAsOf(s, dir),
      Some("""SELECT
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 60 IN (8, 18) THEN 1 END)
             |    AS BIGINT) AS n_asof_2,
             |  true AS asof_2_exact,
             |  true AS asof_2_on_base,
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 60 IN (8, 18, 28, 38) THEN 1 END)
             |    AS BIGINT) AS n_asof_4,
             |  true AS asof_4_exact,
             |  true AS asof_4_on_first_retrain,
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 = 8 THEN 1 END)
             |    AS BIGINT) AS n_asof_6,
             |  true AS asof_6_exact,
             |  true AS asof_6_on_second_retrain,
             |  true AS ids_unique,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // ARCHIVAL CHECKPOINT for the protocol records (round 14): the
    // last unbounded durable growth in the retrain family — one
    // switch/request/fold-request directory per cycle forever — is
    // bounded at adoption: scaffolding subsumed by the switch record
    // is swept, the switch log archived down to keepSwitches live
    // records with the closed history consolidated into ONE parquet.
    // Per-trigger listings become O(current cycle) for the stream's
    // lifetime; the q93 audit path reads the whole history in one job
    // instead of one per adoption — and time travel through ARCHIVED
    // history stays row-identical to one-shot re-encodes.
    QueryDef(
      "q94_switch_archive",
      (s, dir) => graft.streaming.StreamOps.indexSwitchArchive(s, dir),
      Some("""SELECT CAST(9 AS BIGINT) AS n_triggers,
             |  CAST(4 AS BIGINT) AS n_adoptions,
             |  true AS history_complete,
             |  CAST(3 AS BIGINT) AS n_archived,
             |  true AS live_switch_bounded,
             |  true AS scaffolding_bounded,
             |  true AS quiet_reads_bounded,
             |  true AS adopt_reads_bounded,
             |  true AS audit_reads_bounded,
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 90 IN (8, 18) THEN 1 END)
             |    AS BIGINT) AS n_asof_2,
             |  true AS asof_2_exact,
             |  true AS asof_2_on_first_retrain,
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 = 8 THEN 1 END)
             |    AS BIGINT) AS n_asof_9,
             |  true AS asof_9_exact,
             |  true AS asof_9_on_third_retrain,
             |  CAST(count(CASE WHEN vec_id % 10 NOT IN (8, 9) THEN 1 END) +
             |       count(CASE WHEN vec_id % 10 = 8 THEN 1 END)
             |    AS BIGINT) AS n_index,
             |  true AS ids_unique,
             |  true AS serving_exact,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // Streaming appends with a BOUNDED generation count: q69-style
    // per-trigger generations, but whenever the serving-directory count
    // reaches k (= 3) the trigger folds epoch + live generations into
    // one cell-clustered compacted epoch (q70's fold, IN the loop),
    // writes the manifest last, and sweeps the superseded dirs — the
    // small-files creep a long-lived 100 TB stream cannot afford is
    // capped at k directories forever. Contracts: 8 triggers, 4 folds,
    // the directory count never exceeds k at any trigger, final serving
    // row-identical to a one-shot encode (folding invisible), every
    // embedding exactly once.
    QueryDef(
      "q87_stream_index_compact",
      (s, dir) => graft.streaming.StreamOps.streamIndexCompact(s, dir),
      Some("""SELECT CAST(8 AS BIGINT) AS n_triggers,
             |  CAST(4 AS BIGINT) AS n_folds,
             |  true AS gens_bounded,
             |  CAST(count(*) AS BIGINT) AS n_index,
             |  true AS ids_unique,
             |  true AS fold_invisible,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q87's fold taken OFF the trigger — the q86 scale argument applied
    // to maintenance: the trigger only writes a durable fold REQUEST
    // naming its sealed (immutable) input set; a concurrent job
    // rewrites, lands a done marker, and the next trigger ADOPTS with
    // one manifest write. Appends continue throughout (gens {3,4,6,7}
    // provably land with a fold in flight); 3 requests, 2 in-stream
    // adoptions + 1 maintenance adoption, final state one epoch.
    QueryDef(
      "q89_stream_compact_async",
      (s, dir) => graft.streaming.StreamOps.streamIndexCompactAsync(s, dir),
      Some("""SELECT CAST(8 AS BIGINT) AS n_triggers,
             |  CAST(3 AS BIGINT) AS n_requests,
             |  CAST(2 AS BIGINT) AS n_adopted_in_stream,
             |  CAST(4 AS BIGINT) AS n_gens_during_fold,
             |  true AS final_single_epoch,
             |  CAST(count(*) AS BIGINT) AS n_index,
             |  true AS ids_unique,
             |  true AS fold_invisible,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q86 with the GAP FOLD itself off the trigger (the r12 lead
    // finding): the switching trigger no longer re-encodes the gap
    // inline — it writes a durable FOLD request over the sealed range,
    // a concurrent worker re-encodes under the new model, and a later
    // trigger adopts fold+pointer with ONE switch write; serving stays
    // on the old pointer (internally consistent) until adoption.
    // Every synchronous trigger cost is O(batch); training AND gap
    // folding both run concurrently. 8 triggers; 2 fold requests; gen
    // 6 appends while fold #1 runs; no pre-adoption trigger serves the
    // retrained pointer; 1 in-stream adoption; serving row-identical
    // to the one-shot re-encode.
    QueryDef(
      "q90_stream_retrain_fold",
      (s, dir) => graft.streaming.StreamOps.streamIndexRetrainFoldAsync(s, dir),
      Some("""SELECT CAST(8 AS BIGINT) AS n_triggers,
             |  true AS clean_quiet,
             |  true AS drift_fires_once,
             |  true AS gaps_inflight,
             |  CAST(2 AS BIGINT) AS n_fold_requests,
             |  CAST(1 AS BIGINT) AS n_gens_during_fold,
             |  true AS old_pointer_until_adopted,
             |  CAST(1 AS BIGINT) AS n_adopted_in_stream,
             |  true AS post_on_retrained,
             |  true AS post_quiet,
             |  true AS ptr_reads_bounded,
             |  CAST(2 * count(*) +
             |    3 * count(CASE WHEN vec_id % 10 = 8 THEN 1 END) AS BIGINT)
             |    AS n_index,
             |  true AS ids_unique,
             |  true AS same_as_oneshot_fold,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // THE LIFECYCLE, SHARDED (r15, verdict #5): the q90 fold machine
    // run over the q97 sharded layout — per-shard FoldMachines,
    // per-shard switch logs, independently-running per-shard gap
    // folds, ONE global model generation (per-shard retrains would
    // put incomparable codebooks behind one scatter-gather top-k).
    // The new protocol decision pinned here is CROSS-SHARD ADOPTION
    // ORDERING: per-shard adoptions are deliberately unsynchronized
    // (S fold workers, 1/S blast radius), so the global serving
    // pointer is a barrier-on-read — the newest retrain adopted by
    // ALL shards' switch logs, base while any shard lags. The mixed
    // window is CONSTRUCTED (shard 0's belt adopts while shard 1
    // holds) and the rule's old-pointer answer contract-asserted,
    // with shard 1's subtree proven byte-untouched by shard 0's
    // fold+adopt; ptr_reads_bounded now holds PER SHARD; the final
    // union serving must equal a one-shot re-encode under the global
    // retrained model, row-identical. r16 adds MID-WINDOW SERVING:
    // batch queries (the q100 ADC shape) issued before the first belt
    // and again inside the mixed window must be row-identical — the
    // barrier-on-read rule makes shard 0's adoption serving-invisible
    // until the last shard adopts, so every answer comes from ONE
    // consistent pointer (mixing retrained and base codes would score
    // under incomparable codebooks and diverge here). Slicing
    // invariance AND shard-count generality (S=4, with mid-window
    // serves) are pinned in ShardedLifecycleSpec.
    QueryDef(
      "q97_sharded_lifecycle",
      (s, dir) => graft.streaming.StreamOps.shardedLifecycle(s, dir),
      Some("""SELECT CAST(5 AS BIGINT) AS n_triggers,
             |  true AS drift_fires_once,
             |  true AS clean_quiet,
             |  true AS ptr_reads_bounded_per_shard,
             |  true AS shard0_adopted_first,
             |  true AS shard1_isolated_during_belt,
             |  true AS mixed_window_serves_old,
             |  true AS midwindow_batch_unchanged,
             |  true AS midwindow_batch_partial_agg,
             |  true AS all_shards_adopted,
             |  true AS adopted_once_each,
             |  true AS scatter_gather_plan,
             |  CAST(count(*) +
             |    2 * count(CASE WHEN vec_id % 10 = 8 THEN 1 END) AS BIGINT)
             |    AS n_index,
             |  true AS ids_unique,
             |  true AS same_as_oneshot,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin)),

    // q86's contract is the inline handoff: the post trigger adopts the
    // retrained model and folds the gap itself — the work q90's
    // FoldMachine defers off the trigger. It stays a declared oracle
    // query; no new serving-path work lands here.
    QueryDef(
      "q86_stream_retrain_async",
      (s, dir) => graft.streaming.StreamOps.streamIndexRetrainAsync(s, dir),
      Some("""SELECT CAST(5 AS BIGINT) AS n_triggers,
             |  true AS clean_quiet,
             |  true AS drift_fires_once,
             |  true AS gaps_inflight,
             |  true AS post_on_retrained,
             |  true AS post_quiet,
             |  true AS ptr_reads_bounded,
             |  CAST(2 * count(*) AS BIGINT) AS n_index,
             |  true AS ids_unique,
             |  true AS same_as_oneshot_fold,
             |  CAST(10 AS BIGINT) AS n_results
             |FROM embeddings WHERE vec_id <> 0""".stripMargin))
  )
}
