package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  * Plain parquet scans — Catalyst pushes filters/column pruning into them.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // events.ts has shipped under two encodings across testdata
      // generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
      // rejects unless read as raw INT64 nanos via the legacy conf — and
      // TIMESTAMP_MICROS with isAdjustedToUTC=false, which Spark reads as
      // TIMESTAMP_NTZ. Branch on the dtype actually loaded so either
      // encoding yields the same TimestampType column (session is UTC, so
      // NTZ wall-clock values are preserved by the cast, matching what
      // DuckDB sees).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(path)
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        requireTsNanos(spark, path, df)
      normalizeEventsTs(df)
    } else spark.read.parquet(path)
  }

  /** Fan a DataFrame out to the session's parallelism before CPU-heavy
    * per-row work (tokenize / n-gram / hash subtrees) when its current
    * plan provides FEWER partitions than cores — the single-file /
    * single-row-group input case (guide §2.5: "one huge unsplittable
    * file — repartition immediately after the read"). Without this,
    * everything between the scan and the first exchange runs in one
    * task no matter how many cores the session has; split-size confs
    * cannot help because a parquet file with one row group yields rows
    * in exactly one of its byte-range splits.
    *
    * Deliberately CONDITIONAL: at production scale a corpus scan has
    * orders of magnitude more splits than cores, the condition is
    * false, and no repartition (and no text-bytes shuffle) is ever
    * added — the exchange only appears where the input cannot feed the
    * session's cores.
    *
    * CALLER CONTRACT (r17 ADVICE): wrap RAW SCANS ONLY. The partition
    * probe reads `df.rdd.getNumPartitions` at plan-build time, and with
    * AQE enabled accessing `.rdd` on a frame with upstream exchanges
    * forces final-plan materialization — i.e. it EXECUTES those shuffle
    * stages during query construction. On a scan the probe is free
    * (split arithmetic, no job). Every current call site wraps a scan.
    *
    * Result-neutral: round-robin redistribution
    * followed by the operators' own keyed aggregates/windows; every
    * declared query already orders its output and sums through
    * order-free representations. (Round-robin repartition local-sorts
    * its input first — spark.sql.execution.sortBeforeRepartition — so
    * task retries reproduce the same row placement.)
    */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Normalize the events `ts` column to TimestampType regardless of how
    * the fixture was encoded: INT64 raw nanos (legacy nanosAsLong read of
    * TIMESTAMP(NANOS)) → truncate to micros; TIMESTAMP_NTZ / anything else
    * → cast to timestamp.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Guard for the LongType branch of [[normalizeEventsTs]]: a `ts` that
    * loads as INT64 is only divisible-by-1000-able if the values really
    * are NANOSECONDS. Proof order:
    *   1. parquet footer annotation TIMESTAMP(NANOS) — the one encoding
    *      the nanosAsLong conf surfaces as Long — accepted, free;
    *   2. any OTHER timestamp/integer annotation — a micros/millis column
    *      some future Spark surfaces as Long — rejected loudly;
    *   3. no annotation (raw INT64): value plausibility — min/max must
    *      land in [2000, 2100) when read as nanos. Micros (or millis,
    *      seconds) from any plausible testdata land ~1970 under that
    *      reading and fail. One 1-column min/max job, only on this branch.
    * A third encoding must fail HERE instead of loading every timestamp
    * off by 1000x (the silent-drift class round 5 was bitten by).
    */
  private def requireTsNanos(
      spark: SparkSession, path: String, df: DataFrame): Unit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val part = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalStateException(s"no parquet part files under $path"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val annotation =
      try reader.getFooter.getFileMetaData.getSchema
        .getType(Seq("ts"): _*).asPrimitiveType().getLogicalTypeAnnotation
      finally reader.close()
    annotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS => ()
      case null =>
        val nanos2000 = 946684800L * 1000000000L
        val nanos2100 = 4102444800L * 1000000000L
        val mm = df.agg(min(col("ts")), max(col("ts"))).head()
        val plausible = mm.isNullAt(0) ||
          (mm.getLong(0) >= nanos2000 && mm.getLong(1) < nanos2100)
        if (!plausible) throw new IllegalStateException(
          s"events.ts is unannotated INT64 with range [${mm.get(0)}, ${mm.get(1)}] " +
            "— not plausible as epoch NANOSECONDS (expected [2000, 2100)); " +
            "refusing to guess the time unit — update Tables.normalizeEventsTs " +
            s"for this encoding ($part)")
      case other => throw new IllegalStateException(
        s"events.ts loaded as INT64 but its parquet logical type is $other " +
          "(expected TIMESTAMP(NANOS) or none); refusing to guess the time " +
          s"unit — update Tables.normalizeEventsTs for this encoding ($part)")
    }
  }
}
