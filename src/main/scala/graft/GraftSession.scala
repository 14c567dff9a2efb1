package graft

import org.apache.spark.sql.SparkSession

/** Single place that encodes how a Graft session is configured.
  *
  * Local runs use `local[N]` (one JVM); on a real cluster the same settings
  * apply minus master. Scale-relevant choices:
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  *     which is what keeps the declared query set viable at 100 TB without
  *     hand-tuning per-query partition counts.
  *   - shuffle.partitions sized to cores locally; on a cluster this would be
  *     2-3x total executor cores (AQE coalesces down, never up past this).
  *   - UTC session timezone: required for oracle (DuckDB) parity on
  *     timestamp-derived columns.
  *   - zstd parquet output: matches the reference sink
  *     (/root/reference/src/lib.rs:279-282).
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom filters prune the fact side of selective joins
      // before the shuffle (explicit: the default has moved across
      // versions, and at 100 TB this decides shuffle volume)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // Joins accept children co-partitioned on a SUBSET of the join
      // keys (SPARK-35703; aggregates already default to this via
      // requireAllClusterKeysForDistribution=false). The MaxSim scoring
      // tails hash once on (qid, doc_id) and run their dot-0 join and
      // every downstream aggregate exchange-free on that partitioning;
      // with the default (true) the 3/4-key join re-shuffles both
      // sides it is already colocated on. Engine-level and scale-
      // independent: it only applies where children are ALREADY
      // compatibly partitioned, so no plan gets new exchanges from it.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // MIN/MAX/COUNT against parquet footers instead of data pages.
      // Effective only on DSv2 parquet scans (the default V1 path
      // instead plans count(*) as an empty-ReadSchema scan, already
      // metadata-cheap); set so deployments that switch the source list
      // to V2 inherit it
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // SQL scripting (BEGIN...END, DECLARE, WHILE — Spark 4): a parse
      // capability gate only; non-script statements are unaffected
      .config("spark.sql.scripting.enabled", "true")
      // FAIR scheduling so in-process maintenance (async retrains /
      // compaction folds — streaming.Handoff workers run in a
      // "graft-maintenance" pool) fair-shares cores with serving
      // triggers instead of queueing its multi-minute jobs behind (or
      // ahead of) per-second trigger jobs in one FIFO. With a single
      // active pool this degenerates to that pool's internal FIFO, so
      // plain batch queries schedule exactly as before; no allocation
      // file is needed (ad hoc pools get weight 1 / minShare 0, which
      // is the 50/50 share the isolation wants).
      .config("spark.scheduler.mode", "FAIR")
      // Plan-string metadata is truncated at 100 chars by default,
      // which cuts a 40-id In(vec_id, [...]) pushdown out of
      // "PushedFilters: [...]" — and the serve-path plan guards
      // (q96/q99 fetch_pruned) must be able to REQUIRE that the
      // In-list itself reached the scan, not just the range bracket.
      // Plan rendering cost is per-explain, not per-row.
      .config("spark.sql.maxMetadataStringLength", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      // Long-lived-driver hygiene (BENCH_r10 finding): Spark frees
      // broadcast/RDD/shuffle blocks via ContextCleaner, which only
      // learns a block is dead when GC processes its weak reference —
      // and a large-heap driver can run for many minutes between
      // collections, accumulating hundreds of executions' blocks until
      // queries run under memory thrash (q57: 0.65 s fresh → 42.7 s
      // after ~200 executions, 1.45 s again right after a System.gc()).
      // The default periodic GC is 30 min — longer than entire serving
      // windows; 45 s bounds dead-block lifetime at a once-per-45 s GC
      // cost, which on a driver (no task hot loops) is noise. A 100 TB
      // deployment's driver serves thousands of queries per session, so
      // this is engine config, not bench tuning.
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir",
        RunPaths.scratch("graft_warehouse"))
      .config("spark.ui.enabled", "false")
      // Logs once which classes file: resolves to (WARN if not the
      // fork-free ones the classpath core-site.xml installs). A check
      // rule's builder runs when the session's state is built, with the
      // session's own Hadoop conf; the rule itself does nothing.
      .withExtensions(_.injectCheckRule { s =>
        graft.fs.ForkFreeLocalFs.reportOnce(s.sparkContext.hadoopConfiguration)
        _ => ()
      })

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
