package graft.excel

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.excel.XlsxWriter
import graft.sources.excel.XlsxWriter._

/** Splittable single-sheet scan (SURVEY §7.4): `sheetPartitions = N`
  * splits ONE sheet into byte ranges of the inflated XML at `<row`
  * boundaries — pass 1 is a raw-byte substring scan for split points,
  * pass 2 parses only each range. The contract: a multi-partition read
  * equals the single-partition read, including global row order
  * (partition ordinal = byte-range order = document row order).
  */
class RowSplitScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def bigSheet(nRows: Int): String = {
    val p = Files.createTempDirectory("split").resolve("big.xlsx").toString
    val rows = (1 to nRows).map { i =>
      Seq(Some(XNum(i)), Some(XStr(s"name_$i")),
        if (i % 7 == 0) None else Some(XNum(i * 1.25)),
        Some(XShared(s"cat${i % 13}")))
    }
    XlsxWriter.write(p, Seq(Sheet.dense("data",
      Seq("id", "name", "amount", "cat").map(h => Option(XShared(h): XCell))
        +: rows)))
    p
  }

  test("multi-partition read equals single-partition read, order preserved") {
    val path = bigSheet(20000)
    val whole = spark.read.format("excel").load(path)
      .collect().map(_.toSeq).toSeq
    val split = spark.read.format("excel")
      .option("sheetPartitions", "7").load(path)
    assert(split.rdd.getNumPartitions == 7,
      s"expected 7 partitions, got ${split.rdd.getNumPartitions}")
    val got = split.collect().map(_.toSeq).toSeq
    assert(got.size == 20000)
    assert(got == whole, "split read must equal whole read in global order")
  }

  test("more partitions than rows degrades to fewer, still exact") {
    val path = bigSheet(5)
    val split = spark.read.format("excel")
      .option("sheetPartitions", "64").load(path)
    val got = split.collect().map(r => r.getString(0)).toSeq
    assert(got == (1 to 5).map(i => s"$i"))
  }

  test("column pruning composes with the split scan") {
    val path = bigSheet(3000)
    val pruned = spark.read.format("excel")
      .option("sheetPartitions", "4").load(path).select("cat", "id")
    assert(pruned.collect().map(_.getString(1)).toSeq ==
      (1 to 3000).map(i => s"$i"))
  }

  test("spillRowChunks: chunks are row-aligned and concatenate to the sheet tail") {
    val path = bigSheet(4000)
    val wb = new graft.sources.excel.XlsxParser.Workbook(path)
    try {
      val sheet = wb.resolveSheet(None, None)
      // rowSplits is the independent boundary oracle: the one-pass spill
      // must cut at byte-identical offsets
      val bounds = wb.rowSplits(sheet.target, 6)
      assert(bounds.size == 6)
      val scratch = Files.createTempDirectory("spill")
      val chunks = wb.spillRowChunks(sheet.target, 6, scratch)
      assert(chunks.size == 6)
      val bodies = chunks.map(c => Files.readAllBytes(java.nio.file.Paths.get(c)))
      // every chunk starts exactly at a <row element
      bodies.foreach { b =>
        assert(new String(b, 0, 4, "UTF-8") == "<row", "chunk must start at <row")
      }
      // sizes match the planned ranges (last range runs to end of part)
      bounds.zip(bodies).dropRight(1).foreach { case ((a, e), b) =>
        assert(b.length.toLong == e - a, s"chunk length ${b.length} != range ${e - a}")
      }
      // chunks concatenate to the inflated sheet XML from the first row on
      val zf = new java.util.zip.ZipFile(path)
      val whole =
        try zf.getInputStream(zf.getEntry(sheet.target)).readAllBytes()
        finally zf.close()
      val tail = java.util.Arrays.copyOfRange(whole, bounds.head._1.toInt, whole.length)
      assert(java.util.Arrays.equals(bodies.reduce(_ ++ _), tail),
        "concatenated chunks must equal the sheet XML from the first row")
    } finally wb.close()
  }

  test("high partition count stays exact (spill removes the quadratic prefix cost)") {
    val path = bigSheet(20000)
    // pre-spill, 64 partitions would have paid ~32x the sheet in redundant
    // inflate; now planning inflates twice total, so large N is safe.
    val split = spark.read.format("excel")
      .option("sheetPartitions", "64").load(path)
    assert(split.rdd.getNumPartitions == 64)
    assert(split.count() == 20000)
    assert(split.select("id").collect().map(_.getString(0)).toSeq ==
      (1 to 20000).map(i => s"$i"))
  }

  test("xlsb: multi-partition read equals single-partition read, order preserved") {
    // BIFF12 row headers always carry absolute row ids, so the split
    // path needs no r=-style precondition: the planner walks the
    // length-prefixed record stream once and spills row-aligned chunks
    val p = Files.createTempDirectory("splitb").resolve("big.xlsb").toString
    val rows = (1 to 8000).map { i =>
      Seq(Some(XNum(i)), Some(XShared(s"name_$i")),
        if (i % 7 == 0) None else Some(XNum(i * 1.25)),
        Some(XShared(s"cat${i % 13}")))
    }
    graft.sources.excel.XlsbWriter.write(p, Seq(Sheet.dense("data",
      Seq("id", "name", "amount", "cat").map(h => Option(XShared(h): XCell))
        +: rows)))
    val whole = spark.read.format("excel").load(p)
      .collect().map(_.toSeq).toSeq
    val split = spark.read.format("excel")
      .option("sheetPartitions", "5").load(p)
    assert(split.rdd.getNumPartitions == 5,
      s"expected 5 partitions, got ${split.rdd.getNumPartitions}")
    val got = split.collect().map(_.toSeq).toSeq
    assert(got.size == 8000)
    assert(got == whole, "xlsb split read must equal whole read in global order")
  }

  test("multi-file scan composes with sheetPartitions: per-file splits, global order") {
    // a corpus of a few huge workbooks: one task per file
    // under-parallelizes, so each file's sheet is chunk-split and the
    // partition ordinal is (file order, chunk order) — the global row
    // order must equal the serial multi-file scan's
    val dir = Files.createTempDirectory("multisplit")
    def rowsFor(n: Int, tag: String) = (1 to n).map { i =>
      Seq(Some(XNum(i)), Some(XStr(s"${tag}_$i")),
        if (i % 7 == 0) None else Some(XNum(i * 1.25)),
        Some(XShared(s"cat${i % 13}")))
    }
    val header =
      Seq("id", "name", "amount", "cat").map(h => Option(XShared(h): XCell))
    XlsxWriter.write(dir.resolve("a.xlsx").toString,
      Seq(Sheet.dense("data", header +: rowsFor(7000, "a"))))
    XlsxWriter.write(dir.resolve("b.xlsx").toString,
      Seq(Sheet.dense("data", header +: rowsFor(5000, "b"))))
    val whole = spark.read.format("excel").load(dir.toString)
      .collect().map(_.toSeq).toSeq
    val split = spark.read.format("excel")
      .option("sheetPartitions", "4").load(dir.toString)
    assert(split.rdd.getNumPartitions == 8,
      s"expected 4 chunks per file, got ${split.rdd.getNumPartitions}")
    val got = split.collect().map(_.toSeq).toSeq
    assert(got.size == 12000)
    assert(got == whole,
      "multi-file split read must equal the serial read in global order")
    // header contract still enforced per file on the chunked path
    val badDir = Files.createTempDirectory("multisplitbad")
    XlsxWriter.write(badDir.resolve("a.xlsx").toString,
      Seq(Sheet.dense("data", header +: rowsFor(10, "a"))))
    XlsxWriter.write(badDir.resolve("b.xlsx").toString,
      Seq(Sheet.dense("data",
        Seq("other", "names", "here", "now").map(h => Option(XShared(h): XCell))
          +: rowsFor(10, "b"))))
    val err = intercept[org.apache.spark.SparkException] {
      spark.read.format("excel")
        .option("sheetPartitions", "2").load(badDir.toString).collect()
    }
    assert(err.getMessage.contains("does not match") ||
      Option(err.getCause).exists(_.getMessage.contains("does not match")))
  }

  private def spillDirs(): Set[java.nio.file.Path] = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try {
      val b = Set.newBuilder[java.nio.file.Path]
      s.forEach(p =>
        if (p.getFileName.toString.startsWith("graft-sheet-split-")) b += p)
      b.result()
    } finally s.close()
  }
  private def nonEmpty(p: java.nio.file.Path): Boolean =
    Files.isDirectory(p) && { val s = Files.list(p); try s.findAny().isPresent finally s.close() }
  private def writeWb(path: String, n: Int): Unit =
    XlsxWriter.write(path, Seq(Sheet.dense("data",
      Seq(Option(XShared("id"): XCell)) +:
        (1 to n).map(i => Seq(Option(XNum(i): XCell))))))
  test("a replaced workbook's superseded chunk spills are deleted as " +
      "soon as the new version spills") {
    val dir = Files.createTempDirectory("evict")
    val path = dir.resolve("wb.xlsx").toString
    val before = spillDirs()
    writeWb(path, 3000)
    assert(spark.read.format("excel").option("sheetPartitions", "3")
      .load(path).count() == 3000)
    val v1Dirs = (spillDirs() -- before).filter(nonEmpty)
    assert(v1Dirs.nonEmpty, "first split scan should have spilled chunks")
    // replace the workbook (delete + rewrite: new size, mtime, inode)
    Files.delete(java.nio.file.Paths.get(path))
    writeWb(path, 4000)
    new java.io.File(path).setLastModified(System.currentTimeMillis() + 2000)
    assert(spark.read.format("excel").option("sheetPartitions", "3")
      .load(path).count() == 4000)
    assert(v1Dirs.forall(!nonEmpty(_)),
      "superseded chunk files must be deleted by the new version's " +
        "spill, not at JVM exit")
  }

  test("corpora past maxSplitFiles ignore sheetPartitions instead of " +
      "spilling every sheet at plan time") {
    // sheetPartitions stays a PER-FILE knob (few huge workbooks split
    // into files × sheetPartitions tasks), but past maxSplitFiles (16)
    // the scan is directory-scale and no sheet is spilled — partition
    // count stays one per file
    val dir = Files.createTempDirectory("manyfiles")
    val header = Seq(Option(XShared("id"): XCell))
    val names = (1 to 17).map(i => f"f$i%02d")
    for (f <- names)
      XlsxWriter.write(dir.resolve(s"$f.xlsx").toString,
        Seq(Sheet.dense("data", header +:
          (1 to 100).map(i => Seq(Option(XStr(s"${f}_$i"): XCell))))))
    val before = spillDirs()
    val df = spark.read.format("excel").option("sheetPartitions", "3")
      .load(dir.toString)
    assert(df.rdd.getNumPartitions == 17,
      s"expected one task per file, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 1700)
    assert((spillDirs() -- before).filter(nonEmpty).isEmpty,
      "the guarded plan must not spill chunk files")
  }

  test("a workbook replaced between planning and execution fails LOUDLY " +
      "instead of silently reading the new version (no torn reads)") {
    // the lazy task-side spill resolves chunks at EXECUTION time; if
    // tasks resolved against the file's current stats, an action planned
    // against v1 whose file is replaced before (or during) execution
    // would silently mix versions. The plan stamps the file version and
    // every task verifies it, so this shape must error, never return
    // v2 (or mixed) rows under a v1 plan.
    val dir = Files.createTempDirectory("tornread")
    val path = dir.resolve("wb.xlsx").toString
    writeWb(path, 3000)
    val planned = spark.read.format("excel").option("sheetPartitions", "3")
      .load(path)
    // force planInputPartitions (stamps v1) without running any task —
    // nothing is spilled or cached for v1 yet
    assert(planned.rdd.getNumPartitions == 3)
    Files.delete(java.nio.file.Paths.get(path))
    writeWb(path, 4000)
    new java.io.File(path).setLastModified(System.currentTimeMillis() + 2000)
    // the RDD pinned the v1 plan; executing it now must fail loudly
    val err = intercept[org.apache.spark.SparkException] {
      planned.rdd.map(_.size).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("changed while a split scan")),
      s"expected the version-stamp failure, got: ${msgs(err).mkString(" | ")}")
    // a fresh action re-plans against the current file and succeeds
    assert(spark.read.format("excel").option("sheetPartitions", "3")
      .load(path).count() == 4000)
  }

  test("a sheet literally named like an index does not collide in the " +
      "chunk cache with a read BY that index") {
    // the cache/lock key carries the user's selector; an untagged key
    // made sheetName="1" and sheetIndex=1 identical even though
    // resolveSheet picks different sheets — whichever read spilled
    // first silently served the other's rows
    val dir = Files.createTempDirectory("selkey")
    val path = dir.resolve("wb.xlsx").toString
    def sheetRows(tag: String) =
      Seq(Option(XShared("id"): XCell)) +:
        (1 to 2000).map(i => Seq(Option(XStr(s"${tag}_$i"): XCell)))
    XlsxWriter.write(path, Seq(
      Sheet.dense("alpha", sheetRows("a")),
      Sheet.dense("beta", sheetRows("b")),
      Sheet.dense("1", sheetRows("c"))))
    // read the sheet NAMED "1" first so its spill lands in the cache…
    val byName = spark.read.format("excel")
      .option("sheetName", "1").option("sheetPartitions", "3").load(path)
      .collect().map(_.getString(0)).toSeq
    assert(byName == (1 to 2000).map(i => s"c_$i"),
      "sheetName=\"1\" must resolve to the sheet NAMED 1")
    // …then read INDEX 1: an ambiguous key would serve the cached
    // name-"1" chunks here
    val byIndex = spark.read.format("excel")
      .option("sheetIndex", "1").option("sheetPartitions", "3").load(path)
      .collect().map(_.getString(0)).toSeq
    assert(byIndex == (1 to 2000).map(i => s"b_$i"),
      "sheetIndex=1 must resolve to the sheet AT index 1, not the " +
        "cached spill of the sheet named \"1\"")
  }

  test("surplus split intents return empty without opening the " +
      "workbook; real-chunk ordinals still verify the planned version") {
    import graft.sources.excel.{ExcelInputPartition, ExcelReaderFactory, ExcelScan}
    val dir = Files.createTempDirectory("surplus")
    val path = dir.resolve("wb.xlsx").toString
    writeWb(path, 5)
    val f = new java.io.File(path)
    val stamp = ExcelScan.versionStamp(f)
    // materialize the chunk cache for this version (5 rows can never
    // fill 8 chunks, so surplus ordinals exist)
    val chunks = ExcelScan.chunksFor(path, None, None, 8, stamp)
    assert(chunks.length < 8, s"fixture must under-fill: ${chunks.length}")
    // replace the workbook with bytes no parser could open: a surplus
    // intent must not care (its planned-version content is provably
    // empty, no file I/O), while a real-chunk ordinal — whose header
    // layout WOULD come from the live file — must fail loudly
    Files.write(java.nio.file.Paths.get(path),
      "not a workbook".getBytes("UTF-8"))
    f.setLastModified(System.currentTimeMillis() + 2000)
    def part(ordinal: Int) = ExcelInputPartition(
      path, None, None, 0, Array(0), null,
      chunkIndex = ordinal, chunkCount = 8,
      stampLen = stamp._1, stampMtime = stamp._2, stampFileKey = stamp._3)
    val surplus = new ExcelReaderFactory().createReader(part(chunks.length))
    try assert(!surplus.next(), "surplus intent must be empty")
    finally surplus.close()
    // no other version has spilled, so the v1 chunks are still
    // cache-served: the loud failure here comes from the reader's own
    // version verification — the layout-side torn-read guard
    val err = intercept[java.io.FileNotFoundException] {
      new ExcelReaderFactory().createReader(part(0))
    }
    assert(err.getMessage.contains("changed while a split scan"))
  }

  /** Re-zip `src` into `dst` with a ZIP archive comment of exactly
    * `commentLen` bytes — the knob that equalizes two workbooks' byte
    * lengths without touching their entries (deflate is deterministic,
    * so length grows by exactly the comment bytes).
    */
  private def rezip(src: String, dst: String, commentLen: Int): Unit = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.FileInputStream(src))
    val zout = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(dst))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        zout.putNextEntry(new java.util.zip.ZipEntry(e.getName))
        zin.transferTo(zout)
        zout.closeEntry()
        e = zin.getNextEntry
      }
      zout.setComment("x" * commentLen)
    } finally { zin.close(); zout.close() }
  }

  test("the version stamp detects a same-length same-mtime in-place " +
      "rewrite with no option set") {
    // the window a (length, mtime, fileKey) stamp cannot see: an
    // in-place rewrite (same inode → same fileKey) with EQUAL length
    // inside the mtime granularity. Constructed exactly: two
    // equal-length workbook byte images (ZIP comment padding
    // equalizes), second written over the first in place, mtime forced
    // back. The stamp's content CRC must see it.
    val dir = Files.createTempDirectory("contentstamp")
    def build(tag: String): String = {
      val p = dir.resolve(s"src_$tag.xlsx").toString
      XlsxWriter.write(p, Seq(Sheet.dense("data",
        Seq(Option(XShared("id"): XCell)) +:
          (1 to 3000).map(i => Seq(Option(XStr(s"${tag}_$i"): XCell))))))
      p
    }
    val (srcA, srcB) = (build("aaa"), build("bbb"))
    // two-pass equalization: measure comment-0 lengths, then pad both
    // to a common target (deflate is deterministic per input)
    def rezipped(src: String, tag: String, commentLen: Int): java.io.File = {
      val f = dir.resolve(s"eq_${tag}_$commentLen.xlsx").toFile
      rezip(src, f.toString, commentLen)
      f
    }
    val (l0a, l0b) =
      (rezipped(srcA, "a", 0).length(), rezipped(srcB, "b", 0).length())
    val target = math.max(l0a, l0b) + 8
    val bytesA = Files.readAllBytes(
      rezipped(srcA, "a", (target - l0a).toInt).toPath)
    val bytesB = Files.readAllBytes(
      rezipped(srcB, "b", (target - l0b).toInt).toPath)
    assert(bytesA.length == bytesB.length, "equal-length images required")
    val path = dir.resolve("wb.xlsx")
    Files.write(path, bytesA)
    val mtime = path.toFile.lastModified()
    def readAll(): Seq[String] =
      spark.read.format("excel")
        .option("sheetPartitions", "3")
        .load(path.toString)
        .collect().map(_.getString(0)).toSeq
    val before = spillDirs()
    assert(readAll() == (1 to 3000).map(i => s"aaa_$i"), "baseline read")
    val v1Dirs = (spillDirs() -- before).filter(nonEmpty)
    // in-place rewrite: same inode, same length, mtime forced back
    val out = new java.io.FileOutputStream(path.toFile)
    try out.write(bytesB) finally out.close()
    assert(path.toFile.setLastModified(mtime))
    assert(readAll() == (1 to 3000).map(i => s"bbb_$i"),
      "the stamp must detect the in-place rewrite: fresh spill, new rows")
    assert(v1Dirs.forall(!nonEmpty(_)),
      "the old content's chunks are superseded by the new spill")
    // and the new version caches normally (second read, same content)
    val v2Dirs = (spillDirs() -- before).filter(nonEmpty)
    assert(readAll() == (1 to 3000).map(i => s"bbb_$i"))
    assert((spillDirs() -- before).filter(nonEmpty) == v2Dirs,
      "a second read of the unchanged file must reuse its spill")
  }

  test("split-scan PLANNING does not inflate or spill sheets — the " +
      "first executing task does, lazily and once") {
    val path = bigSheet(12000)
    val before = spillDirs()
    val df = spark.read.format("excel")
      .option("sheetPartitions", "5").load(path)
    // partition enumeration forces planInputPartitions without running
    // a single task — the pre-r11 planner spilled every sheet right here
    assert(df.rdd.getNumPartitions == 5)
    assert((spillDirs() -- before).filter(nonEmpty).isEmpty,
      "planning must not spill chunk files — the plan carries only " +
        "(file, chunkIndex) intents")
    assert(df.count() == 12000)
    assert((spillDirs() -- before).exists(nonEmpty),
      "the first executing task must materialize the chunk spill")
    // and the spill happened ONCE: a second action reuses the cache
    val dirsAfterFirst = spillDirs() -- before
    assert(df.count() == 12000)
    assert((spillDirs() -- before) == dirsAfterFirst,
      "subsequent actions must reuse the cached chunk set, not respill")
  }
}
