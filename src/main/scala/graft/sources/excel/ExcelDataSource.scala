package graft.sources.excel

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `format("excel")` — the Spark-native equivalent of the
  * reference's xlsx scan (R1, /root/reference/src/lib.rs:30-65).
  *
  * Read options (reference CLI flags, /root/reference/src/main.rs:7-36),
  * and no others — an unknown key fails the read (see `readOptions`):
  *   - `path`            workbook file, directory or glob
  *   - `sheetName`       wins over sheetIndex (/root/reference/src/lib.rs:105-124)
  *   - `sheetIndex`      0-based; OOB -> error
  *   - `skipRows`        header offset within the used range
  *   - `sheetPartitions` >1 splits each file's sheet into row-aligned chunks
  *   - `headerDedup`     "unique" (default) or "reference" — see HeaderNames
  *
  * Schema: every column nullable StringType (/root/reference/src/lib.rs:229-234),
  * names inferred from the header row on the driver. Column pruning is
  * pushed into the reader (pruned sheet columns are never materialized).
  *
  * Scale: one InputPartition per workbook file, so a directory or glob
  * of N files is an N-task scan. With `sheetPartitions = n` each file's
  * sheet is additionally split into n chunk tasks (see ExcelScan).
  */
class ExcelDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "excel"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val o = ExcelDataSource.readOptions(options)
    val first = ExcelDataSource.resolvePaths(o.path).head
    val lay = ExcelRead.layout(o.copy(path = first))
    StructType(lay.names.map(StructField(_, StringType, nullable = true)))
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new ExcelTable(schema, new CaseInsensitiveStringMap(properties))
}

object ExcelDataSource {
  /** The read options the source accepts (compared case-insensitively,
    * as Spark passes them). Any other key fails the read, so a typo or a
    * retired option cannot be silently ignored.
    */
  private val optionKeys: Seq[String] =
    Seq("path", "sheetName", "sheetIndex", "skipRows", "sheetPartitions", "headerDedup")

  def readOptions(options: CaseInsensitiveStringMap): ExcelRead.Options = {
    val known = optionKeys.map(_.toLowerCase).toSet
    options.asCaseSensitiveMap().keySet().asScala.find(k => !known(k.toLowerCase)).foreach { k =>
      throw new IllegalArgumentException(
        s"excel source: unknown read option '$k' (accepted: ${optionKeys.mkString(", ")})")
    }
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("excel source requires a path"))
    ExcelRead.Options(
      path = path,
      sheetName = Option(options.get("sheetName")),
      sheetIndex = Option(options.get("sheetIndex")).map(_.toInt),
      skipRows = Option(options.get("skipRows")).map(_.toInt).getOrElse(0),
      sheetPartitions =
        Option(options.get("sheetPartitions")).map(_.toInt).getOrElse(1),
      headerDedup =
        Option(options.get("headerDedup")).getOrElse("unique"))
  }

  /** Expand the load path into concrete workbook files: a glob matches
    * workbook files (and directories, which are then listed for
    * .xlsx/.xlsb), a directory lists its workbook files, a plain file
    * passes through as-is (a bad extension surfaces the parser/CLI
    * error, matching the reference's exit-1 contract). Glob matches are
    * filtered to workbooks exactly like directory listings, so a
    * star-glob of a directory and the directory itself agree. Sorted —
    * partition order, and therefore global
    * output row order, is lexicographic by file path (matching
    * part-file reader convention).
    *
    * Resolution uses the active session's Hadoop configuration, but the
    * workbooks themselves must be on the local filesystem: the ZIP
    * container needs random access (`java.util.zip.ZipFile`), so any
    * non-`file:` scheme is rejected loudly instead of mis-resolving.
    */
  def resolvePaths(spec: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val p = new Path(spec)
    val fs = p.getFileSystem(conf)
    def isWorkbook(name: String): Boolean = {
      val n = name.toLowerCase
      n.endsWith(".xlsx") || n.endsWith(".xlsb")
    }
    val isGlob = spec.exists(c => "*?[]{}".indexOf(c.toInt) >= 0)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files = matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(f => f.isFile && isWorkbook(f.getPath.getName))
      else if (isGlob) Seq(st).filter(f => isWorkbook(f.getPath.getName))
      else Seq(st)
    }
    files.map(_.getPath.toUri).find(u => u.getScheme != null && u.getScheme != "file")
      .foreach { u =>
        throw new IllegalArgumentException(
          s"excel source reads local workbooks only (ZIP random access): $u")
      }
    val out = files.map(_.getPath.toUri.getPath).sorted
    if (out.isEmpty)
      throw new IllegalArgumentException(s"excel source: no workbook files match $spec")
    out
  }
}

final class ExcelTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"excel:${options.get("path")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ExcelScanBuilder(tableSchema, new CaseInsensitiveStringMap(
      (options.asScala ++ scanOptions.asScala).asJava))
}

final class ExcelScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ExcelScan(fullSchema, required, options)
}

final class ExcelScan(fullSchema: StructType, required: StructType, options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ExcelScan ${options.get("path")} [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val o = ExcelDataSource.readOptions(options)
    val paths = ExcelDataSource.resolvePaths(o.path)
    // one partition per workbook file — a directory / glob of N files is
    // an N-task scan, the file-parallel unit a 100 TB Excel corpus needs
    // (individual workbooks are ZIP-deflated and not block-splittable).
    // With sheetPartitions > 1, EACH file's sheet is additionally split
    // at `<row` boundaries of the inflated XML (rowSplits) and the
    // inflated bytes are spilled ONCE into range-aligned chunk files;
    // each task then parses only its own chunk — total inflate work is
    // O(2 × sheet) per file for any partition count (no per-task prefix
    // re-inflate). The spill is LAZY and TASK-SIDE (r11): the planner
    // only emits (file, chunkIndex) intents, and the first task to
    // touch each file performs the one-pass inflate+spill under a
    // per-file lock (ExcelScan.chunksFor) — planning cost is one cheap
    // metadata peek per file (sheet resolution + first-row r= check),
    // never O(sheet), and no sheet bytes ever land on the driver.
    // Partition ordinal = (file, chunk) order = global row order.
    // positional mapping when nothing was pruned: with
    // headerDedup=reference the schema may contain DUPLICATE names, and
    // fieldIndex-by-name would send both occurrences to the first sheet
    // column; pruning a dup-named column is unreachable (Spark analysis
    // rejects the ambiguous reference first)
    val positions =
      if (required.fieldNames.sameElements(fullSchema.fieldNames))
        fullSchema.fieldNames.indices.toArray
      else required.fieldNames.map(fullSchema.fieldIndex)
    val expectNames = if (paths.length > 1) fullSchema.fieldNames else null
    def serial(f: String): InputPartition = ExcelInputPartition(
      f, o.sheetName, o.sheetIndex, o.skipRows, positions, expectNames,
      headerDedup = o.headerDedup)
    // Many-files guard: splitting a corpus of N files inflates every
    // sheet a second time onto executor temp disk (the chunk spills).
    // sheetPartitions stays a PER-FILE knob (a corpus of 8 huge
    // workbooks × sheetPartitions=8 rightly plans 64 partitions), but
    // the number of files it will split is bounded: past
    // ExcelScan.maxSplitFiles the corpus is a directory-scale scan whose
    // parallelism already comes from file count — splitting would buy
    // no parallelism and 2× the corpus on temp disk, so scan one task
    // per file and say so. (Since the r11 lazy-spill redesign this
    // guard bounds TEMP-DISK AMPLIFICATION only; plan-time driver cost
    // is O(1) per file regardless.)
    if (o.sheetPartitions > 1 && paths.length > ExcelScan.maxSplitFiles) {
      ExcelScan.log.warn(
        s"sheetPartitions=${o.sheetPartitions} ignored: ${paths.length} " +
          s"files exceed maxSplitFiles=${ExcelScan.maxSplitFiles} — a directory-" +
          "scale scan already parallelizes by file, and splitting " +
          "would re-inflate the whole corpus onto temp disk; scanning " +
          "one task per file")
      paths.map(serial).toArray
    } else if (o.sheetPartitions > 1) {
      // Splittable scan: the planner emits sheetPartitions INTENT
      // partitions per file — no inflate, no spill, no sheet bytes on
      // the driver. The only per-file plan work is the cheap metadata
      // peek deciding splittability (sheet resolution + first-row r=
      // check; chunk fragments need absolute row positions — BIFF12
      // row headers always carry them, SpreadsheetML needs r=
      // attributes). A refless file falls back to one serial task for
      // THAT file only. The first TASK to touch a file performs the
      // one-pass inflate+spill (ExcelScan.chunksFor: process-global
      // cache + per-file lock, so concurrent sibling tasks wait
      // instead of re-inflating); a sheet that yields fewer chunks
      // than requested leaves the surplus intents as cheap empty
      // tasks. Partition ordinal = (file order, chunk order), so the
      // global row order contract (lexicographic by path, then sheet
      // row order) is the same as the serial multi-file scan's.
      paths.flatMap { path =>
        val wb = WorkbookSource.open(path)
        try {
          val sheet = wb.resolveSheet(o.sheetName, o.sheetIndex)
          val refless = wb match {
            case x: XlsxParser.Workbook => !x.firstRowHasRef(sheet.target)
            case _ => false
          }
          if (refless) {
            ExcelScan.log.warn(
              s"sheetPartitions=${o.sheetPartitions} requested, but sheet " +
                s"'${sheet.name}' of $path has no r= attributes on its " +
                "<row> elements; scanning this file in a single partition")
            Seq(serial(path))
          } else {
            // stamp the intents with the file version the plan saw:
            // tasks resolve chunks for exactly this version (see the
            // ExcelScan cache contract — no torn reads across a
            // mid-action workbook replacement)
            val stamp = ExcelScan.versionStamp(new java.io.File(path))
            (0 until o.sheetPartitions).map { i =>
              ExcelInputPartition(path, o.sheetName, o.sheetIndex,
                o.skipRows, positions, expectNames,
                chunkIndex = i, chunkCount = o.sheetPartitions,
                headerDedup = o.headerDedup,
                stampLen = stamp._1, stampMtime = stamp._2,
                stampFileKey = stamp._3): InputPartition
            }
          }
        } finally wb.close()
      }.toArray
    } else {
      paths.map(serial).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory
}

object ExcelScan {
  private[excel] val log = org.slf4j.LoggerFactory.getLogger(classOf[ExcelScan])

  /** A scan of more files than this ignores `sheetPartitions` and reads
    * one task per file (the many-files guard in planInputPartitions).
    */
  private[excel] val maxSplitFiles = 16

  /** Process-global cache of spilled chunk files, keyed by workbook
    * identity (absolute path + version stamp) + sheet SELECTOR +
    * partition count. Every split-scan TASK resolves its chunk set
    * through this cache (chunksFor), and DSv2 re-plans the scan on
    * EVERY action; without the cache each action re-inflated and
    * re-spilled the whole sheet into a fresh temp dir — unbounded
    * temp-disk growth on a long-lived session (and a full redundant
    * inflate pass per action). The key carries the sheet selector (the
    * user's sheetName/sheetIndex request) rather than the resolved
    * sheet part: within one file version the selector resolves
    * deterministically, and keying by selector lets a task look up the
    * PLANNED version's chunks without opening (a possibly replaced)
    * file to resolve the part name. Entries are validated against the
    * filesystem before reuse.
    *
    * Snapshot contract: the PLAN stamps each split intent with the
    * file's version (versionStamp) observed at plan time, and every task
    * resolves chunks for exactly that version — a cache hit serves the
    * planned version, and a miss + on-disk mismatch fails LOUDLY
    * (FileNotFoundException) instead of silently spilling the new
    * version, so one action can never mix rows from two file versions
    * (torn read).
    *
    * Supersede rule: a task that spills version v of (path, selector)
    * deletes that (path, selector)'s chunk sets of every other version
    * right away, files and cache entries both. No new plan can reach
    * them (a new plan stamps the current version, a different key); a
    * task still planned against the replaced file fails with the
    * "changed while a split scan" error — its result was void the
    * moment the file changed. Different-n entries of the live version
    * stay cached. deleteOnExit remains the last-resort cleanup.
    */
  private type Stamp = (Long, Long, String)
  private type ChunkKey = (String, Stamp, String, Int)
  private val chunkCache =
    new java.util.concurrent.ConcurrentHashMap[ChunkKey, Seq[String]]()

  // one lock per (file, sheet, n): sibling tasks of a split scan all
  // race to materialize the same chunk set; the loser threads must WAIT
  // for the winner's one-pass spill, not run their own
  private val spillLocks = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), Object]()

  private def deleteChunkSet(chunks: Seq[String]): Unit =
    chunks.foreach { c =>
      val cf = new java.io.File(c)
      val dir = cf.getParentFile
      cf.delete()
      if (dir != null) dir.delete() // succeeds once the dir is empty
    }

  /** The file's version stamp (length, mtime, fileKey + content CRC).
    * The filesystem fileKey (inode) distinguishes an atomically REPLACED
    * workbook even when length and coarse mtime coincide; the CRC of the
    * first/last 64 KiB catches an in-place rewrite that keeps length,
    * mtime and inode (bounded I/O per check; the ZIP central directory
    * lives in the tail, so any entry change moves bytes there). The
    * hash rides inside the fileKey string, so every consumer (cache
    * keys, plan stamps, task verification) takes it without a shape
    * change.
    */
  private[graft] def versionStamp(f: java.io.File): Stamp = {
    val fileKey =
      try String.valueOf(java.nio.file.Files.readAttributes(
        f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      catch { case _: Throwable => "" }
    // a vanished/unreadable file must not make the stamp THROW (the
    // loud "changed while a split scan" mismatch must keep working) —
    // but it must not degrade to a COMPARABLE value either: an empty
    // hash on both sides of a comparison (two I/O failures, a
    // permissions regression) would compare EQUAL and silently disable
    // in-place-rewrite detection while cached chunks keep serving. A
    // failed CRC therefore stamps a per-call UNVERIFIABLE sentinel: it
    // never equals any other stamp (including another failure's), so a
    // planned split scan takes the loud version-mismatch error.
    val hash =
      try contentCrc(f)
      catch {
        case _: Throwable =>
          if (crcDegradedLogged.compareAndSet(false, true))
            log.warn(s"content CRC unreadable for $f — treating the stamp " +
              "as unverifiable (never-equal); split scans against this " +
              "version will fail loudly rather than risk serving a stale spill")
          s"unverifiable-${unverifiableSeq.incrementAndGet()}"
      }
    (f.length(), f.lastModified(), s"$fileKey:h=$hash")
  }

  // the sentinel makes failure states never-equal instead of
  // silently-equal; the flag logs the first degradation so an operator
  // learns detection is compromised
  private val unverifiableSeq = new java.util.concurrent.atomic.AtomicLong()
  private val crcDegradedLogged =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def contentCrc(f: java.io.File): String = {
    val crc = new java.util.zip.CRC32
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val len = raf.length()
      val head = math.min(len, 65536L).toInt
      val buf = new Array[Byte](head)
      raf.readFully(buf)
      crc.update(buf, 0, head)
      if (len > 65536L) {
        val tailStart = math.max(head.toLong, len - 65536L)
        raf.seek(tailStart)
        val tail = new Array[Byte]((len - tailStart).toInt)
        raf.readFully(tail)
        crc.update(tail, 0, tail.length)
      }
      java.lang.Long.toHexString(crc.getValue)
    } finally raf.close()
  }

  /** TASK-side chunk-set resolution for a split-scan intent partition:
    * return the cached chunk spill for the PLANNED file version —
    * performing the one-pass inflate+spill if this JVM has not
    * materialized it yet. Serialized per (file, selector, n) so exactly
    * one task pays the inflate while its siblings block; every later
    * task (and every DSv2 re-plan's tasks) hits the cache. On a
    * multi-executor cluster each executor JVM materializes its own
    * spill for the files its tasks touch — O(executors-touching-file)
    * total inflate work, overlapped with execution, instead of the
    * pre-r11 O(corpus) SERIAL driver inflate that ran before any task
    * could start.
    *
    * `planned` is the version stamp the PLAN captured: a cached entry
    * under it is served, and a cache miss whose on-disk file no longer
    * matches it fails LOUDLY instead of spilling the new version — the
    * task set of one action must never mix rows of two file versions.
    * A spill applies the supersede rule (see the cache contract above).
    */
  private[graft] def chunksFor(
      path: String, sheetName: Option[String], sheetIndex: Option[Int],
      n: Int, planned: Stamp): Seq[String] = {
    val f = new java.io.File(path)
    val abs = f.getAbsolutePath
    // tagged selector: a sheet literally NAMED "1" read by name and a
    // read of sheetIndex=1 must not share a cache key — resolveSheet
    // can pick different sheets for the two requests, and whichever
    // spilled first would silently serve the other's rows
    val sel = sheetName.map("name:" + _)
      .getOrElse("idx:" + sheetIndex.getOrElse(0))
    val lock = spillLocks.computeIfAbsent((abs, sel, n), _ => new Object)
    lock.synchronized {
      val key = (abs, planned, sel, n)
      val cached = chunkCache.get(key)
      if (cached != null && cached.forall(c => new java.io.File(c).exists()))
        cached
      else if (versionStamp(f) != planned)
        // the planned version is gone from cache AND from disk: any
        // spill now would read the replacement — rows from a different
        // version than sibling tasks already returned. Fail the task
        // instead of tearing the result.
        throw new java.io.FileNotFoundException(
          s"$path changed while a split scan planned against version " +
            s"(len=${planned._1}, mtime=${planned._2}) was in flight — " +
            "re-run the query to read the current file")
      else {
        val wb = WorkbookSource.open(path)
        val chunks =
          try {
            val sheet = wb.resolveSheet(sheetName, sheetIndex)
            val scratch =
              java.nio.file.Files.createTempDirectory("graft-sheet-split-")
            scratch.toFile.deleteOnExit()
            wb.spillRowChunks(sheet.target, n, scratch)
          } finally wb.close()
        chunkCache.put(key, chunks)
        // supersede: drop every other version of this (path, selector)
        chunkCache.forEach { (k, v) =>
          if (k._1 == abs && k._3 == sel && k._2 != planned && chunkCache.remove(k, v))
            deleteChunkSet(v)
        }
        chunks
      }
    }
  }
}

final case class ExcelInputPartition(
    path: String,
    sheetName: Option[String],
    sheetIndex: Option[Int],
    skipRows: Int,
    requiredPositions: Array[Int],
    // non-null for multi-file scans: every file must present this header
    // (positional mapping would silently misalign columns otherwise)
    expectedNames: Array[String],
    // >= 0 for split single-sheet scans: this task reads chunk
    // `chunkIndex` of the file's `chunkCount`-way spill — resolved
    // TASK-side via ExcelScan.chunksFor (the plan carries only the
    // intent, never a spilled path)
    chunkIndex: Int = -1,
    chunkCount: Int = 0,
    headerDedup: String = "unique",
    // the file version (length, mtime, fileKey) the PLAN observed —
    // every split task reads exactly this version or fails loudly, so
    // a workbook replaced mid-action can never produce a torn read
    // mixing rows of two versions
    stampLen: Long = -1L,
    stampMtime: Long = 0L,
    stampFileKey: String = "") extends InputPartition

final class ExcelReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ExcelInputPartition]
    val opts = ExcelRead.Options(p.path, p.sheetName, p.sheetIndex, p.skipRows,
      headerDedup = p.headerDedup)
    // Split tasks verify the file still matches the PLANNED version on
    // BOTH SIDES of the layout read: the layout (header row) comes from
    // the live file, so parsing planned-version chunks with a
    // replacement's layout would be the same torn read the chunk stamp
    // prevents. The pre-check fails fast; the POST-check closes the
    // TOCTOU window where the workbook is replaced between the check
    // and the layout read (or while chunksFor serves the planned
    // version's cached chunks of a since-replaced file) — a layout
    // derived from the replacement can never be paired with
    // planned-version chunk rows. A mismatch fails loudly; the action
    // re-runs against the current file.
    def verifyPlannedVersion(): Unit = {
      val cur = ExcelScan.versionStamp(new java.io.File(p.path))
      if (cur != ((p.stampLen, p.stampMtime, p.stampFileKey)))
        throw new java.io.FileNotFoundException(
          s"${p.path} changed while a split scan planned against version " +
            s"(len=${p.stampLen}, mtime=${p.stampMtime}) was in flight — " +
            "re-run the query to read the current file")
    }
    // Layout re-derivation on the executor is one header-prefix scan —
    // cheap, and avoids serializing driver state into the partition.
    // Deferred behind the chunk resolution for split tasks so SURPLUS
    // intents (a sheet that yielded fewer chunks than planned) return
    // empty without opening the workbook at all.
    def withLayout(
        build: (ExcelRead.SheetLayout, Array[Int]) => Iterator[Array[AnyRef]] with AutoCloseable)
        : Iterator[Array[AnyRef]] with AutoCloseable = {
      val lay = ExcelRead.layout(opts)
      if (p.expectedNames != null && lay.names != p.expectedNames.toSeq)
        throw new IllegalArgumentException(
          s"${p.path}: header ${lay.names.mkString("[", ",", "]")} does not match " +
            s"the scan schema ${p.expectedNames.mkString("[", ",", "]")} — " +
            "all files of a multi-file excel scan must share the header row")
      val outPos = Array.fill(lay.numCols)(-1)
      p.requiredPositions.zipWithIndex.foreach { case (pos, out) => outPos(pos) = out }
      build(lay, outPos)
    }
    val rows: Iterator[Array[AnyRef]] with AutoCloseable =
      if (p.chunkIndex >= 0) {
        // intent partition: resolve (and on first touch, materialize)
        // the chunk spill FIRST, on the task — see ExcelScan.chunksFor.
        // chunksFor fails loudly on a stale cache miss, so a surplus
        // intent that returns empty here has still been version-checked.
        val chunks = ExcelScan.chunksFor(
          p.path, p.sheetName, p.sheetIndex, p.chunkCount,
          (p.stampLen, p.stampMtime, p.stampFileKey))
        if (p.chunkIndex >= math.max(chunks.length, 1))
          // surplus intent (fewer real chunks than planned): empty, and
          // no workbook open / layout scan / header parse is paid for it
          ExcelRead.noRows
        else {
          verifyPlannedVersion()
          withLayout { (lay, outPos) =>
            val r =
              if (chunks.isEmpty)
                // sheet not spillable into chunks (no data rows):
                // ordinal 0 degrades to the serial scan so the file is
                // still read exactly once; sibling intents were empty
                ExcelRead.rows(opts, lay, outPos, p.requiredPositions.length)
              else
                // a chunk set is deleted only when another version of
                // the file spilled: report a vanished chunk as the
                // version change it is
                try ExcelRead.rowsForChunk(opts, lay, outPos,
                  p.requiredPositions.length, chunks(p.chunkIndex))
                catch {
                  case e: java.io.FileNotFoundException =>
                    verifyPlannedVersion(); throw e
                }
            // post-check: the layout just read must belong to the
            // planned version the chunks came from. The iterator is
            // already constructed (it holds an open workbook handle),
            // so a failing check must close it — nothing downstream
            // ever receives it to close. The close itself may fail on
            // the same replaced file; that error rides as suppressed,
            // never masking the version-mismatch signal
            try verifyPlannedVersion()
            catch {
              case t: Throwable =>
                try r.close()
                catch { case c: Throwable => t.addSuppressed(c) }
                throw t
            }
            r
          }
        }
      } else withLayout { (lay, outPos) =>
        ExcelRead.rows(opts, lay, outPos, p.requiredPositions.length)
      }

    new PartitionReader[InternalRow] {
      private var current: Array[AnyRef] = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow =
        // cells are UTF8String already (encoded at parse time, on the
        // worker pool for chunked scans) and the pivot array is per-row —
        // wrap it directly, no copy
        new GenericInternalRow(current.asInstanceOf[Array[Any]])
      override def close(): Unit = rows.close()
    }
  }
}
