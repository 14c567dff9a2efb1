package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Conversion entry point + CLI — the Spark equivalent of the reference's
  * binary (R11, /root/reference/src/main.rs:7-68): same flags, same
  * dispatch-on-extension, exit 1 with the error on stderr on failure.
  *
  * `--batch-size` carries the reference's row-group contract (R8,
  * /root/reference/src/lib.rs:281: one write batch = one parquet row
  * group): it maps to parquet-mr's `parquet.block.row.count.limit`, so
  * every row group holds exactly `batchSize` rows (last group partial) —
  * the byte-based `parquet.block.size` threshold never fires first at
  * these row widths. `batchSize = 0` disables the limit and delegates to
  * the byte-based writer, the right choice for analytics outputs where
  * larger groups scan faster.
  *
  * Scale: one input file = one task. A 100 TB conversion is many files;
  * `convertMany` fans out per-file conversions across the cluster while
  * each file streams through the single-pass DSv2 reader.
  */
object ExcelToParquet {

  final case class Options(
      input: String,
      output: String,
      sheetName: Option[String] = None,
      sheetIndex: Option[Int] = None,
      skipRows: Int = 0,
      batchSize: Int = 5000,
      // >1: splittable single-sheet scan (byte-range partitions of the
      // inflated sheet XML; xlsx with r= refs only — see SCALING.md).
      // Each chunk task also encodes its own part file, so this is the
      // order-preserving parallel encode of one huge workbook too
      sheetPartitions: Int = 1)

  def read(spark: SparkSession, opts: Options): DataFrame = {
    val r = spark.read.format("excel")
    opts.sheetName.foreach(n => r.option("sheetName", n))
    opts.sheetIndex.foreach(i => r.option("sheetIndex", i))
    if (opts.sheetPartitions > 1)
      r.option("sheetPartitions", opts.sheetPartitions)
    r.option("skipRows", opts.skipRows).load(opts.input)
  }

  /** Convert workbook sheet(s) to a zstd parquet file; returns the number
    * of rows on disk, summed on the driver from the committed part files'
    * footer record counts (the same metadata a Parquet `count()` reads,
    * without a second query). A single-file serial conversion is one Spark
    * job: the write.
    * A plain file keeps the reference's extension contract (exit-1 on
    * anything but .xlsx/.xlsb); a directory or glob converts every matched
    * workbook in one N-task job (the source plans one partition per file),
    * writing part files in lexicographic file order.
    */
  def convert(spark: SparkSession, opts: Options): Long = {
    val lower = opts.input.toLowerCase
    val multi = lower.exists("*?[{".contains(_)) ||
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(opts.input))
    if (!multi && !lower.endsWith(".xlsx") && !lower.endsWith(".xlsb"))
      throw new IllegalArgumentException(
        s"Unsupported file extension for input: ${opts.input} (expected .xlsx or .xlsb)")
    val w = read(spark, opts).write.mode("overwrite").option("compression", "zstd")
    // R8 (see above); the option reaches the task-side Hadoop conf
    if (opts.batchSize > 0) w.option("parquet.block.row.count.limit", opts.batchSize)
    w.parquet(opts.output)
    committedRows(spark, opts.output)
  }

  /** Sum of the footer record counts of the data files in a written
    * Parquet directory. Skips `_`/`.`-prefixed names (`_SUCCESS`, `.crc`
    * checksums), as Spark's own file listing does.
    */
  private def committedRows(spark: SparkSession, output: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(output)
    dir.getFileSystem(conf).listStatus(dir)
      .filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getRecordCount finally reader.close()
      }
      .sum
  }

  /** Fan out many independent file conversions. Each conversion is its
    * own Spark job (the per-sheet scan is one task), so driver-side
    * concurrency is what fills the cluster: jobs are submitted from a
    * bounded pool and Spark's scheduler interleaves their tasks across
    * executors. Returns (input, rowCount-or-error) per file.
    */
  def convertMany(
      spark: SparkSession,
      jobs: Seq[Options],
      parallelism: Int = 8): Seq[(String, Either[String, Long])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, jobs.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    try {
      val futures = jobs.map { opts =>
        Future {
          opts.input -> (try Right(convert(spark, opts))
          catch { case e: Throwable => Left(e.getMessage) })
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Incremental fan-out: skip inputs already recorded in a conversion
    * manifest with an unchanged (size, mtime) signature, convert the
    * rest, and rewrite the manifest with the successful conversions.
    * This is what makes a 100 TB ingestion RESUMABLE: re-running the
    * same job after a partial failure (or on a grown input directory)
    * converts only new/changed workbooks. The manifest is itself a tiny
    * parquet table (one row per input file — file-count scale, not data
    * scale), readable as a conversion audit log.
    *
    * Returns (results for converted inputs, skipped input paths).
    */
  def convertManyIncremental(
      spark: SparkSession,
      jobs: Seq[Options],
      manifestPath: String,
      parallelism: Int = 8): (Seq[(String, Either[String, Long])], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val mPath = new Path(manifestPath)
    val mFs = mPath.getFileSystem(conf)

    val prior: Map[String, (Long, Long, Long)] =
      if (mFs.exists(mPath))
        spark.read.parquet(manifestPath)
          .select("input", "length", "mtime", "rows")
          .collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
          .toMap
      else Map.empty

    def signature(input: String): Option[(Long, Long)] = {
      val p = new Path(input)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val st = fs.getFileStatus(p)
        Some((st.getLen, st.getModificationTime))
      } else None
    }

    val sigs = jobs.map(j => j.input -> signature(j.input)).toMap
    val (skip, todo) = jobs.partition { j =>
      sigs(j.input).exists { case (len, mt) =>
        prior.get(j.input).exists { case (pl, pm, _) => pl == len && pm == mt }
      }
    }
    val results = convertMany(spark, todo, parallelism)

    // New manifest = prior entries (still-valid work from any batch,
    // including failed retries whose signature no longer matches and
    // will re-run next time) overlaid with this batch's successes.
    val converted = results.toMap.collect { case (in, Right(rows)) => in -> rows }
    val manifest = prior.filter { case (in, _) => !converted.contains(in) } ++
      converted.flatMap { case (in, rows) =>
        sigs(in).map { case (len, mt) => in -> ((len, mt, rows)) }
      }
    import spark.implicits._
    val tmp = manifestPath + ".graft-tmp"
    manifest.toSeq.map { case (in, (len, mt, rows)) => (in, len, mt, rows) }
      .toDF("input", "length", "mtime", "rows")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    mFs.delete(mPath, true)
    if (!mFs.rename(new Path(tmp), mPath))
      throw new java.io.IOException(s"could not move manifest into place at $manifestPath")
    (results, skip.map(_.input))
  }

  /** Parse the CLI flags (the reference's, plus `--sheet-partitions`)
    * into conversion options. Throws IllegalArgumentException on an
    * unknown flag, a flag given without its value, or a missing
    * `-i`/`-o`.
    */
  def parseArgs(args: Seq[String]): Options = {
    val values = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val flag = args(i) match {
        case "-i" | "--input" => "--input"
        case "-o" | "--output" => "--output"
        case f @ ("--sheet-name" | "--sheet-index" | "--skip-rows" |
            "--batch-size" | "--sheet-partitions") => f
        case other => throw new IllegalArgumentException(s"Unknown argument: $other")
      }
      if (i + 1 >= args.length)
        throw new IllegalArgumentException(s"missing value for ${args(i)}")
      values(flag) = args(i + 1)
      i += 2
    }
    def int(flag: String, default: Int): Int =
      values.get(flag).fold(default)(_.toInt)
    Options(
      values.getOrElse("--input", throw new IllegalArgumentException("missing -i/--input")),
      values.getOrElse("--output", throw new IllegalArgumentException("missing -o/--output")),
      sheetName = values.get("--sheet-name"),
      sheetIndex = values.get("--sheet-index").map(_.toInt),
      skipRows = int("--skip-rows", 0),
      batchSize = int("--batch-size", 5000),
      sheetPartitions = int("--sheet-partitions", 1))
  }

  def main(args: Array[String]): Unit = {
    try {
      val opts = parseArgs(args.toSeq)
      val spark = GraftSession.local()
      val t0 = System.nanoTime()
      val rows = convert(spark, opts)
      println(f"Converted ${opts.input} -> ${opts.output}: $rows rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"Error: ${e.getMessage}")
        sys.exit(1)
    }
  }
}
