package graft.sources.excel

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** Streaming xlsx (SpreadsheetML) reader built on java.util.zip + StAX —
  * the Spark-side equivalent of the reference's calamine-based cell stream
  * (/root/reference/src/lib.rs:42-53). One pass over the worksheet XML
  * yields sparse cells (row, col, text) with memory O(row), never O(file).
  *
  * String semantics replicate `cell_to_string`
  * (/root/reference/src/lib.rs:387-400):
  *   numeric (incl. date-serial) -> Rust f64 Display via [[RustDouble]];
  *   bool -> "true"/"false"; error -> calamine debug name ("Div0", "NA", …);
  *   inline/shared strings -> as-is; ISO date cells (t="d") -> literal text;
  *   explicitly-present empty cell -> "" (cells absent from the XML simply
  *   don't appear — the consumer maps them to NULL, /root/reference/src/lib.rs:426-432).
  */
object XlsxParser {

  final case class SheetMeta(name: String, target: String)

  /** `text` is pre-encoded to Spark's native UTF8String at parse time: on
    * the chunk-parallel scan path the encode cost rides the worker pool
    * instead of the task thread, and shared-string cells reuse the one
    * encoded object per table entry instead of re-encoding per cell.
    */
  final case class Cell(row: Int, col: Int, text: UTF8String)

  private[excel] val U8Empty = UTF8String.EMPTY_UTF8
  private[excel] val U8True = UTF8String.fromString("true")
  private[excel] val U8False = UTF8String.fromString("false")

  /** Used-range bounds, 0-based inclusive (calamine `dimensions()`). */
  final case class Dimensions(startRow: Int, startCol: Int, endRow: Int, endCol: Int) {
    def numCols: Int = endCol - startCol + 1
  }

  private val xif: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty("javax.xml.stream.isSupportingExternalEntities", false)
    f
  }

  /** "BC" -> 54 (0-based). */
  def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** "BC12" -> (11, 54) 0-based (row, col). */
  def cellRef(ref: String): (Int, Int) = {
    val letters = ref.takeWhile(_.isLetter)
    val digits = ref.drop(letters.length)
    (digits.toInt - 1, colIndex(letters))
  }

  def mapError(e: String): String = e match {
    case "#DIV/0!"       => "Div0"
    case "#N/A"          => "NA"
    case "#NAME?"        => "Name"
    case "#NULL!"        => "Null"
    case "#NUM!"         => "Num"
    case "#REF!"         => "Ref"
    case "#VALUE!"       => "Value"
    case "#GETTING_DATA" => "GettingData"
    case other           => other
  }

  /** Parse an OPC relationships part (XML, shared by xlsx and xlsb
    * containers) into Id -> Target.
    */
  def parseRels(in: InputStream): Map[String, String] = {
    val r = xif.createXMLStreamReader(in)
    val m = mutable.Map.empty[String, String]
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null) m(id) = target
        }
      }
    } finally { r.close(); in.close() }
    m.toMap
  }

  /** Workbook-level metadata: sheet list in workbook order with resolved
    * worksheet part paths, and the shared-strings table.
    */
  final class Workbook(val path: String) extends WorkbookSource {
    private val zip = new ZipFile(path)

    val sheets: Seq[SheetMeta] = {
      val rels: Map[String, String] =
        entryStream("xl/_rels/workbook.xml.rels").map(parseRels).getOrElse(Map.empty)
      entryStream("xl/workbook.xml") match {
        case Some(in) =>
          val r = xif.createXMLStreamReader(in)
          val out = mutable.ArrayBuffer.empty[SheetMeta]
          try {
            while (r.hasNext) {
              if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
                val name = r.getAttributeValue(null, "name")
                var rid: String = null
                var i = 0
                while (i < r.getAttributeCount) {
                  if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
                  i += 1
                }
                val target = rels.get(rid) match {
                  case Some(t) if t.startsWith("/") => t.drop(1)
                  case Some(t)                      => s"xl/$t"
                  case None                         => s"xl/worksheets/sheet${out.size + 1}.xml"
                }
                out += SheetMeta(name, target)
              }
            }
          } finally { r.close(); in.close() }
          out.toSeq
        case None => throw new IllegalArgumentException(s"$path: xl/workbook.xml missing — not an xlsx file")
      }
    }

    lazy val sharedStrings: IndexedSeq[String] = entryStream("xl/sharedStrings.xml") match {
      case None => IndexedSeq.empty
      case Some(in) =>
        val rd = new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)
        val fx = new FastXml(rd)
        val out = mutable.ArrayBuffer.empty[String]
        val sb = new StringBuilder
        var inT = false
        try {
          var e = fx.next(inT)
          while (e != FastXml.EVENT_EOF) {
            e match {
              case FastXml.EVENT_START =>
                if (fx.nameIs("si")) sb.setLength(0)
                else if (fx.nameIs("t") && !fx.selfClosing) inT = true
              case FastXml.EVENT_TEXT =>
                if (inT) sb.append(fx.text)
              case FastXml.EVENT_END =>
                if (fx.nameIs("t")) inT = false
                else if (fx.nameIs("si")) out += sb.toString
              case _ =>
            }
            e = fx.next(inT)
          }
        } finally rd.close()
        out.toIndexedSeq
    }

    /** Shared strings pre-encoded once; every referencing cell reuses the
      * same UTF8String object.
      */
    lazy val sharedU8: IndexedSeq[UTF8String] =
      sharedStrings.map(UTF8String.fromString)

    /** Sheet selection with the reference's precedence: name wins over
      * index; default = first sheet; OOB index / no sheets -> error
      * (/root/reference/src/lib.rs:105-124).
      */
    def resolveSheet(name: Option[String], index: Option[Int]): SheetMeta = {
      name match {
        case Some(n) =>
          sheets.find(_.name == n).getOrElse(
            throw new IllegalArgumentException(s"Worksheet '$n' not found"))
        case None =>
          index match {
            case Some(i) =>
              if (i < 0 || i >= sheets.length)
                throw new IllegalArgumentException(s"Sheet index $i out of bounds (${sheets.length} sheets)")
              sheets(i)
            case None =>
              sheets.headOption.getOrElse(
                throw new IllegalArgumentException("No worksheets found"))
          }
      }
    }

    private def entryStream(name: String): Option[InputStream] =
      Option(zip.getEntry(name)).map(zip.getInputStream)

    /** Streaming cell iterator over one worksheet part. Must be closed
      * (or fully consumed).
      */
    def cells(target: String): CellIterator = {
      val in = entryStream(target).getOrElse(
        throw new IllegalArgumentException(s"$path: missing worksheet part $target"))
      val rd = new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)
      new CellIterator(new FastXml(rd), rd, sharedU8)
    }

    /** Scan-path cell stream: big sheets go through the pipelined
      * chunk-parallel parser (see [[ParallelCells]]), small ones through
      * the serial scanner (thread-pool setup would dominate). The
      * parallel path needs explicit r= row attributes; sniff the first
      * row tag and fall back if they're missing.
      */
    override def cellsForScan(target: String): Iterator[Cell] with AutoCloseable = {
      val entry = zip.getEntry(target)
      if (entry == null)
        throw new IllegalArgumentException(s"$path: missing worksheet part $target")
      if (entry.getSize < (4L << 20) || !firstRowHasRef(target)) cells(target)
      else {
        val rd = new java.io.InputStreamReader(
          zip.getInputStream(entry), java.nio.charset.StandardCharsets.UTF_8)
        val workers = math.min(8, Runtime.getRuntime.availableProcessors())
        new ParallelCells(rd, sharedU8, workers)
      }
    }

    /** Split the sheet into `n` byte ranges of the INFLATED worksheet
      * XML, each starting exactly at a `<row` element (so every range is
      * a sequence of complete row elements and any partition scheme that
      * assigns one range per task preserves document row order by range
      * ordinal). One sequential pass over raw inflated bytes — a
      * substring scan, no XML parse, no UTF-8 decode, no cell decode —
      * i.e. the cheap first pass of the two-pass splittable scan
      * (SURVEY §7.4). Returns fewer than `n` ranges when the sheet has
      * fewer rows than `n` or rows are too clustered. Pattern safety:
      * `<row` is only accepted when followed by space/`>`/`/` (excludes
      * `<rowBreaks`), and a literal "<row" inside cell text is
      * impossible — XML escapes `<` as `&lt;`.
      */
    def rowSplits(target: String, n: Int): Seq[(Long, Long)] = {
      val entry = zip.getEntry(target)
      if (entry == null)
        throw new IllegalArgumentException(s"$path: missing worksheet part $target")
      val total = entry.getSize // uncompressed size from the central directory
      if (total <= 0 || n <= 1) return Seq((0L, Long.MaxValue))
      val targets = (1 until n).map(i => total * i / n)
      val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
      val in = zip.getInputStream(entry)
      try {
        var off = 0L
        var ti = 0
        var firstRow = -1L
        // match state for the literal '<','r','o','w' + boundary char.
        // Chunked array scan, NOT per-byte stream reads: a synchronized
        // InputStream.read() call per inflated byte was measured as a
        // ~3 s FIXED planning cost on a 25 MB sheet — dominating the
        // entire split scan — vs ~0.1 s for bulk reads + array walk.
        val pat = Array('<'.toByte, 'r'.toByte, 'o'.toByte, 'w'.toByte)
        var m = 0
        val buf = new Array[Byte](1 << 16)
        var len = in.read(buf)
        var done = false
        while (!done && len > 0) {
          var i = 0
          while (!done && i < len) {
            val b = buf(i)
            if (m == pat.length) {
              // at the boundary char after "<row"
              if (b == ' ' || b == '>' || b == '/') {
                val rowStart = off - pat.length
                if (firstRow < 0) firstRow = rowStart
                while (ti < targets.length && rowStart >= targets(ti)) {
                  starts += rowStart
                  ti += 1
                }
                if (firstRow >= 0 && ti >= targets.length) done = true
              }
              m = if (b == '<') 1 else 0
            } else if (b == pat(m)) m += 1
            else m = if (b == pat(0)) 1 else 0
            off += 1
            i += 1
          }
          if (!done) len = in.read(buf)
        }
        if (firstRow < 0) return Seq((0L, Long.MaxValue)) // no rows at all
        val distinct = starts.distinct.filter(_ > firstRow)
        val bounds: Seq[Long] = (firstRow +: distinct.toSeq) :+ Long.MaxValue
        bounds.sliding(2).map(w => (w(0), w(1))).toSeq
      } finally in.close()
    }

    /** Single-pass splittable-scan planner: inflate the worksheet XML
      * ONCE, detecting `<row` boundaries (same state machine and target
      * offsets as [[rowSplits]]) and spilling the bytes into ≤ `n`
      * range-aligned chunk files under `scratch` as they stream by.
      * After planning, each split task streams only its own chunk file,
      * so TOTAL inflate work is one pass regardless of the partition
      * count. This replaces the earlier per-task inflate-and-discard
      * prefix, whose aggregate inflate cost grew quadratically in the
      * partition count and was bounded only by a documented "N up to ~8"
      * convention.
      *
      * The prefix before the first `<row` (XML prolog, <dimension>) is
      * not spilled; chunk parsing runs in strict row-ref mode, so every
      * chunk is a self-describing sequence of complete `<row r=…>`
      * elements. Chunk boundaries are byte-identical to [[rowSplits]]'s
      * range starts (spec-pinned). Chunk files are
      * deleteOnExit-registered. Requires driver and executors to share
      * the local filesystem — already the excel source's documented
      * constraint (ZIP random access on a local path).
      *
      * Returns Nil when the sheet has no rows (caller falls back to the
      * serial scan).
      */
    def spillRowChunks(target: String, n: Int,
        scratch: java.nio.file.Path): Seq[String] = {
      val entry = zip.getEntry(target)
      if (entry == null)
        throw new IllegalArgumentException(s"$path: missing worksheet part $target")
      val total = entry.getSize
      if (total <= 0 || n <= 1) return Nil
      val targets = (1 until n).map(i => total * i / n)
      val files = mutable.ArrayBuffer.empty[java.io.File]
      var out: java.io.OutputStream = null
      def rotate(): Unit = {
        if (out != null) out.close()
        val f = scratch.resolve(f"chunk-${files.size}%05d.xml").toFile
        f.deleteOnExit()
        files += f
        out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16)
      }
      val in = zip.getInputStream(entry)
      try {
        val pat = Array('<'.toByte, 'r'.toByte, 'o'.toByte, 'w'.toByte)
        var m = 0            // pattern-match state at the scan position
        var ti = 0           // next target offset to satisfy
        var firstSeen = false
        // work = carry (unwritten partial-match tail from the previous
        // buffer) ++ fresh bytes; all writes are bulk segment writes —
        // per-byte stream calls were measured as a ~3 s cliff (rowSplits
        // history, see its scaladoc)
        val buf = new Array[Byte](1 << 16)
        val work = new Array[Byte](4 + (1 << 16))
        var carry = 0        // valid prefix of work carried over
        var absBase = 0L     // absolute inflated offset of work(0)
        var len = in.read(buf)
        while (len > 0) {
          System.arraycopy(buf, 0, work, carry, len)
          val L = carry + len
          var segStart = if (firstSeen) 0 else -1 // -1: discarding prefix
          if (ti < targets.length || !firstSeen) {
            // resume AFTER the carried bytes: they were already scanned
            // (m holds their match state); a straddling "<row" still
            // rotates correctly because rowStart = i - 4 may point into
            // the carried region, which is present in work[0..carry)
            var i = carry
            while (i < L) {
              val b = work(i)
              if (m == pat.length) {
                if (b == ' ' || b == '>' || b == '/') {
                  val rowStart = i - pat.length
                  val absRow = absBase + rowStart
                  if (!firstSeen) {
                    firstSeen = true
                    rotate()
                    segStart = rowStart
                  } else if (ti < targets.length && absRow >= targets(ti)) {
                    out.write(work, segStart, rowStart - segStart)
                    rotate()
                    segStart = rowStart
                  }
                  while (ti < targets.length && absRow >= targets(ti)) ti += 1
                }
                m = if (b == '<') 1 else 0
              } else if (b == pat(m)) m += 1
              else m = if (b == pat(0)) 1 else 0
              i += 1
            }
          } else m = 0 // all targets placed: plain copy, no more scanning
          // keep the in-progress pattern tail (m bytes, or the full
          // "<row" when awaiting its boundary char) unwritten so a
          // straddling match can still rotate at its true row start
          val tail = math.min(if (m >= pat.length) pat.length else m, L)
          if (firstSeen && segStart >= 0) out.write(work, segStart, L - tail - segStart)
          System.arraycopy(work, L - tail, work, 0, tail)
          carry = tail
          absBase += L - tail
          len = in.read(buf)
        }
        if (firstSeen && carry > 0) out.write(work, 0, carry) // EOF mid-pattern
      } finally {
        if (out != null) out.close()
        in.close()
      }
      files.map(_.getAbsolutePath).toSeq
    }

    /** Cell stream over one spilled chunk file (see [[spillRowChunks]]):
      * complete row elements only, parsed in strict row-ref mode (a
      * fragment has no preceding rows to count from).
      */
    def chunkCells(chunkPath: String): CellIterator = {
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(chunkPath), 1 << 16)
      val rd = new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)
      new CellIterator(new FastXml(rd), rd, sharedU8, strictRowRefs = true)
    }

    /** Does the first `<row` tag carry an r= attribute? (64 KiB sniff.) */
    private[excel] def firstRowHasRef(target: String): Boolean = {
      val in = entryStream(target).getOrElse(return false)
      val rd = new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)
      try {
        val buf = new Array[Char](64 * 1024)
        var len = 0
        var n = rd.read(buf, len, buf.length - len)
        while (n > 0 && len + n < buf.length) {
          len += n
          n = rd.read(buf, len, buf.length - len)
        }
        if (n > 0) len += n
        val s = new String(buf, 0, len)
        val tag = s.indexOf("<row")
        if (tag < 0) false
        else {
          val close = s.indexOf('>', tag)
          close > 0 && s.substring(tag, close).contains(" r=")
        }
      } finally rd.close()
    }

    /** Used-range: from the <dimension> element when it carries a full
      * range; otherwise computed with a dedicated scan pass (mirrors
      * calamine, which trusts the dimension record when present).
      */
    def dimensions(target: String): Option[Dimensions] = {
      val in = entryStream(target).getOrElse(
        throw new IllegalArgumentException(s"$path: missing worksheet part $target"))
      val r = xif.createXMLStreamReader(in)
      var dim: Option[Dimensions] = None
      var sawData = false
      try {
        var done = false
        while (!done && r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "dimension" =>
              val ref = r.getAttributeValue(null, "ref")
              if (ref != null && ref.contains(":")) {
                val Array(a, b) = ref.split(":", 2)
                val (r0, c0) = cellRef(a)
                val (r1, c1) = cellRef(b)
                dim = Some(Dimensions(r0, c0, r1, c1))
              }
              done = true
            case XMLStreamConstants.START_ELEMENT if r.getLocalName == "sheetData" =>
              done = true // no dimension element before data
              sawData = true
            case _ =>
          }
        }
      } finally { r.close(); in.close() }
      if (dim.isDefined) dim
      else {
        // fallback: full scan for bounds
        var r0, c0 = Int.MaxValue
        var r1, c1 = Int.MinValue
        val it = cells(target)
        try {
          while (it.hasNext) {
            val c = it.next()
            r0 = math.min(r0, c.row); c0 = math.min(c0, c.col)
            r1 = math.max(r1, c.row); c1 = math.max(c1, c.col)
          }
        } finally it.close()
        if (r0 == Int.MaxValue) None else Some(Dimensions(r0, c0, r1, c1))
      }
    }

    override def close(): Unit = zip.close()
  }

  /** One-pass cell stream over the sheet XML (FastXml scanner — see that
    * class for why not StAX). Emits cells in document order (row-major —
    * guaranteed by the SpreadsheetML spec for <sheetData>).
    */
  final class CellIterator(
      fx: FastXml, rd: java.io.Reader, shared: IndexedSeq[UTF8String],
      strictRowRefs: Boolean = false)
      extends Iterator[Cell] with AutoCloseable {

    private var nextCell: Cell = _
    private var finished = false
    private var curRow = -1     // 0-based row of the current <row> element
    private var lastCol = -1    // last seen col in current row (for cells w/o r=)
    private val sb = new StringBuilder // reused per cell (r18: was a fresh
                                       // builder per <c> — measured churn)

    private def advance(): Unit = {
      nextCell = null
      while (nextCell == null && !finished) {
        fx.next(false) match {
          case FastXml.EVENT_START =>
            if (fx.nameIs("row")) {
              val ra = fx.attr("r")
              if (ra == null && strictRowRefs)
                throw new IllegalStateException(
                  "chunked xlsx scan requires r= attributes on every <row>")
              curRow = if (ra != null) ra.toInt - 1 else curRow + 1
              lastCol = -1
            } else if (fx.nameIs("c")) parseCell()
          case FastXml.EVENT_EOF => finished = true; close()
          case _ =>
        }
      }
    }

    /** Parse one <c> element completely (scanner positioned on its start). */
    private def parseCell(): Unit = {
      val ref = fx.attr("r")
      val t = fx.attr("t")
      // inline cellRef (r18): the tuple form boxed (Int, Int) per cell
      var row = curRow
      var col = lastCol + 1
      if (ref != null) {
        var ci = 0
        var r = 0
        var i = 0
        var inDigits = false
        while (i < ref.length) {
          val ch = ref.charAt(i)
          if (!inDigits && ch >= 'A' && ch <= 'Z') ci = ci * 26 + (ch - 'A' + 1)
          else if (!inDigits && ch >= 'a' && ch <= 'z') ci = ci * 26 + (ch - 'a' + 1)
          else if (ch >= '0' && ch <= '9') { inDigits = true; r = r * 10 + (ch - '0') }
          else throw new NumberFormatException(s"bad cell ref: $ref")
          i += 1
        }
        if (!inDigits) throw new NumberFormatException(s"bad cell ref: $ref")
        row = r - 1
        col = ci - 1
      }
      lastCol = col
      var v: String = null
      var is: String = null
      var inV = false
      var inT = false
      var sawIs = false
      if (!fx.selfClosing) {
        var depth = 1
        while (depth > 0) {
          fx.next(inV || inT) match {
            case FastXml.EVENT_START =>
              if (!fx.selfClosing) {
                depth += 1
                if (fx.nameIs("v")) { inV = true; sb.setLength(0) }
                else if (fx.nameIs("t")) inT = true
                else if (fx.nameIs("is")) { sawIs = true; sb.setLength(0) }
              } else if (fx.nameIs("is")) sawIs = true
            case FastXml.EVENT_TEXT =>
              if (inV || inT) sb.append(fx.text)
            case FastXml.EVENT_END =>
              depth -= 1
              if (fx.nameIs("v")) { inV = false; v = sb.toString }
              else if (fx.nameIs("t")) inT = false
              else if (fx.nameIs("is")) is = sb.toString
            case FastXml.EVENT_EOF => depth = 0
            case _ =>
          }
        }
      }
      val text: UTF8String = t match {
        case "s"         => if (v == null) U8Empty else shared(v.trim.toInt)
        case "str"       => if (v == null) U8Empty else UTF8String.fromString(v)
        case "inlineStr" => if (is == null) U8Empty else UTF8String.fromString(is)
        case "b"         => if (v != null && (v.trim == "1" || v.trim.equalsIgnoreCase("true"))) U8True else U8False
        case "e"         => if (v == null) U8Empty else UTF8String.fromString(mapError(v.trim))
        case "d"         => if (v == null) U8Empty else UTF8String.fromString(v.trim) // ISO datetime/duration: literal text
        case _ => // numeric (or date-serial — both print as the raw f64)
          if (v == null || v.trim.isEmpty) U8Empty // explicitly-present empty cell
          else UTF8String.fromString(RustDouble.format(v.trim.toDouble))
      }
      nextCell = Cell(row, col, text)
    }

    advance()

    override def hasNext: Boolean = nextCell != null
    override def next(): Cell = {
      val c = nextCell
      if (c == null) throw new NoSuchElementException
      advance()
      c
    }
    override def close(): Unit = rd.close()
  }
}
