package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** Seeded workbook corpus for the `convert` workload, with each file's
  * expected output derived here from the reference's cell-to-string rules
  * (never from the program's parser):
  *   - numbers print in shortest form, integral ones without ".0";
  *   - booleans print as true/false, errors by their calamine names;
  *   - a present-but-empty cell is "", a missing cell is null, a row with
  *     no cells at all is dropped;
  *   - the header row is the used range's first row plus skipRows; a blank
  *     header cell is Field_i, a repeated name gets _2.
  * Shapes are fixed; only values depend on the seed, so every seed costs
  * about the same.
  */
object Corpus {

  /** One conversion: input, read options, and the output it must produce. */
  final case class Item(
      name: String, input: String, sheetName: Option[String] = None,
      sheetIndex: Option[Int] = None, skipRows: Int = 0, sheetPartitions: Int = 1,
      header: Seq[String] = Nil, rows: Long = 0, checksum: Long = 0) {
    def cells: Long = rows * header.size
  }

  /** Order-sensitive hash over a row stream (null distinct from ""). */
  final class Checksum {
    private var h = 0xcbf29ce484222325L
    private def mix(v: Long): Unit = h = (h ^ v) * 0x100000001b3L
    def cell(s: String): Unit = mix(if (s == null) 0x7fffffffffffL else s.hashCode.toLong & 0xffffffffL)
    def endRow(): Unit = mix(0x5bd1e995L)
    def value: Long = h
  }

  private val words = Seq("alpha", "beta", "gamma", "delta", "north", "south",
    "east", "west", "red", "green", "blue", "amber", "q1", "q2", "q3", "q4",
    "lisbon", "oslo", "quito", "lima", "x & y", "<tag>", "a\"b", "naïve", "数据")
  private val errors = Seq("#DIV/0!" -> "Div0", "#N/A" -> "NA", "#NAME?" -> "Name",
    "#NULL!" -> "Null", "#NUM!" -> "Num", "#REF!" -> "Ref", "#VALUE!" -> "Value")

  /** A number and its expected text: integral, or exactly two decimals. */
  private def number(r: SplittableRandom): (Double, String) =
    if (r.nextInt(3) == 0) {
      val v = r.nextLong(-5000000L, 5000000L)
      (v.toDouble, v.toString)
    } else {
      val cents = r.nextLong(-100000000L, 100000000L)
      val text = java.math.BigDecimal.valueOf(cents, 2).stripTrailingZeros.toPlainString
      (text.toDouble, text)
    }

  /** A random mixed-type cell and its expected text. */
  private def mixedCell(r: SplittableRandom, xlsb: Boolean): (XCell, String) =
    r.nextInt(20) match {
      case 0 => (XEmpty, "")
      case 1 => val b = r.nextBoolean(); (XBool(b), b.toString)
      case 2 => val (code, name) = errors(r.nextInt(errors.size)); (XErr(code), name)
      case 3 => val w = words(r.nextInt(words.size)); (XStr(w), w)
      case 4 => val w = s"f-${r.nextInt(1000)}"; (XFormulaStr(w), w)
      case 5 if !xlsb => val d = f"2024-0${1 + r.nextInt(9)}-1${r.nextInt(9)}T00:00:00"; (XIsoDate(d), d)
      case k if k < 12 => val (v, t) = number(r); (XNum(v), t)
      case _ => val w = s"${words(r.nextInt(words.size))}-${r.nextInt(50)}"; (XShared(w), w)
    }

  /** A sheet grid plus its expected output, computed from the cell model. */
  private final case class Grid(name: String, cells: Map[(Int, Int), (XCell, String)]) {
    def sheet: Sheet = Sheet(name, cells.map { case (k, (c, _)) => k -> c })

    def expect(skipRows: Int): (Seq[String], Long, Long) = {
      val rs = cells.keys.map(_._1); val cs = cells.keys.map(_._2)
      val (r0, r1, c0, c1) = (rs.min, rs.max, cs.min, cs.max)
      val headerRow = r0 + skipRows
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val header = (c0 to c1).map { c =>
        val raw = cells.get((headerRow, c)).map(_._2).filter(_.nonEmpty)
          .getOrElse(s"Field_${c - c0}")
        val n = seen.getOrElse(raw, 0) + 1
        seen(raw) = n
        if (n > 1) s"${raw}_$n" else raw
      }
      val byRow = cells.groupBy(_._1._1)
      val sum = new Checksum
      var rows = 0L
      (headerRow + 1 to r1).filter(byRow.contains).foreach { r =>
        (c0 to c1).foreach(c => sum.cell(cells.get((r, c)).map(_._2).orNull))
        sum.endRow(); rows += 1
      }
      (header, rows, sum.value)
    }
  }

  private def headerCells(names: Seq[String]): Map[(Int, Int), (XCell, String)] =
    names.zipWithIndex.collect { case (n, c) if n != null => (0, c) -> (XStr(n) -> n) }.toMap

  /** Dense mixed sheet with one blank and one repeated header name. */
  private def mixedGrid(r: SplittableRandom, rows: Int, cols: Int, xlsb: Boolean): Grid = {
    val names = (0 until cols).map {
      case 1 => null
      case c if c == cols - 1 => "amount"
      case 2 => "amount"
      case c => s"col_$c"
    }
    val body = for (row <- 1 to rows; c <- 0 until cols) yield (row, c) -> mixedCell(r, xlsb)
    Grid("data", headerCells(names) ++ body)
  }

  /** Shared-string sheet whose table has `distinct` entries. */
  private def sstGrid(r: SplittableRandom, rows: Int, cols: Int, distinct: Int): Grid = {
    val body = for (row <- 1 to rows; c <- 0 until cols) yield {
      val s = s"s${r.nextInt(distinct)}-${words(c % words.size).length}"
      (row, c) -> (XShared(s) -> s)
    }
    Grid("sst", headerCells((0 until cols).map(c => s"k$c")) ++ body)
  }

  /** Sparse sheet: junk rows above the header, missing rows and cells. */
  private def sparseGrid(r: SplittableRandom, name: String, junk: Int, rows: Int, cols: Int,
      xlsb: Boolean): Grid = {
    val top = (0 until junk).map(j => (j, 0) -> (XStr(s"note $j") -> s"note $j")).toMap
    val header = (0 until cols).map(c => (junk, c) -> (XStr(s"f$c") -> s"f$c")).toMap
    val body = for {
      row <- junk + 1 to junk + rows if r.nextInt(5) != 0 // whole rows missing
      c <- 0 until cols if r.nextInt(3) != 0 // cells missing
    } yield (row, c) -> mixedCell(r, xlsb)
    Grid(name, top ++ header ++ body)
  }

  private def write(path: String, grids: Seq[Grid]): Unit =
    if (path.endsWith(".xlsb")) XlsbWriter.write(path, grids.map(_.sheet))
    else XlsxWriter.write(path, grids.map(_.sheet))

  /** Writes the corpus under `dir` and returns one item per conversion. */
  def generate(dir: String, seed: Long, cores: Int, denseRows: Int): Seq[Item] = {
    new java.io.File(dir).mkdirs()
    val rnd = new SplittableRandom(seed)
    val items = Seq.newBuilder[Item]
    def single(name: String, g: Grid): Unit = {
      val path = s"$dir/$name"
      write(path, Seq(g))
      val (h, n, sum) = g.expect(0)
      items += Item(name, path, header = h, rows = n, checksum = sum)
    }
    // many small and medium workbooks: per-file planning dominates
    val smallRows = Seq(100, 400, 1600, 3200, 200, 800)
    smallRows.zipWithIndex.foreach { case (rows, i) =>
      single(f"small_$i%02d.xlsx", mixedGrid(rnd.split(), rows, 6 + i % 5, xlsb = false))
    }
    smallRows.take(2).zipWithIndex.foreach { case (rows, i) =>
      single(f"small_$i%02d.xlsb", mixedGrid(rnd.split(), rows, 6 + i % 5, xlsb = true))
    }
    // large vs tiny shared-strings tables at the same grid size
    for (ext <- Seq("xlsx", "xlsb")) {
      single(s"sst_large.$ext", sstGrid(rnd.split(), 5000, 5, 25000))
      single(s"sst_tiny.$ext", sstGrid(rnd.split(), 5000, 5, 8))
    }
    // sparse sheets in a three-sheet workbook, chosen by name and by index
    for (ext <- Seq("xlsx", "xlsb")) {
      val xlsb = ext == "xlsb"
      val notes = Grid("notes", Map((0, 0) -> (XStr("readme") -> "readme")))
      val data = sparseGrid(rnd.split(), "data", 2, 3000, 8, xlsb)
      val tail = sparseGrid(rnd.split(), "tail", 0, 1500, 5, xlsb)
      val path = s"$dir/sparse.$ext"
      write(path, Seq(notes, data, tail))
      val (h1, n1, s1) = data.expect(2)
      items += Item(s"sparse_by_name.$ext", path, sheetName = Some("data"), skipRows = 2,
        header = h1, rows = n1, checksum = s1)
      val (h2, n2, s2) = tail.expect(0)
      items += Item(s"sparse_by_index.$ext", path, sheetIndex = Some(2),
        header = h2, rows = n2, checksum = s2)
    }
    // one multi-million-cell dense sheet, serial and split across the cores
    val dense = writeDense(s"$dir/dense.xlsx", rnd.split(), denseRows)
    items += dense.copy(name = "dense_serial.xlsx")
    items += dense.copy(name = "dense_split.xlsx", sheetPartitions = cores)
    items.result()
  }

  private val denseCols = 10

  /** Streams a dense sheet straight into the zip (both fixture writers
    * hold the whole grid in a Map, which does not fit at this size).
    */
  private def writeDense(path: String, r: SplittableRandom, rows: Int): Item = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    zos.setLevel(1)
    val w = new BufferedWriter(new OutputStreamWriter(zos, StandardCharsets.UTF_8), 1 << 16)
    def part(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(name)); body; w.flush(); zos.closeEntry()
    }
    val header = (0 until denseCols).map(c => s"d$c")
    val sum = new Checksum
    part("[Content_Types].xml")(w.write(
      """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""))
    part("_rels/.rels")(w.write(
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""))
    part("xl/workbook.xml")(w.write(
      """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="dense" sheetId="1" r:id="rId1"/></sheets></workbook>"""))
    part("xl/_rels/workbook.xml.rels")(w.write(
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""))
    part("xl/worksheets/sheet1.xml") {
      val last = XlsxWriter.colName(denseCols - 1)
      w.write(s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><dimension ref="A1:$last${rows + 1}"/><sheetData>""")
      w.write("""<row r="1">""")
      header.zipWithIndex.foreach { case (h, c) =>
        w.write(s"""<c r="${XlsxWriter.colName(c)}1" t="inlineStr"><is><t>$h</t></is></c>""")
      }
      w.write("</row>")
      var row = 2
      while (row <= rows + 1) {
        w.write(s"""<row r="$row">""")
        var c = 0
        while (c < denseCols) {
          val ref = s"${XlsxWriter.colName(c)}$row"
          val text = c % 5 match {
            case 0 => val v = (row - 1).toString; w.write(s"""<c r="$ref"><v>$v</v></c>"""); v
            case 1 | 3 =>
              val (_, t) = number(r); w.write(s"""<c r="$ref"><v>$t</v></c>"""); t
            case 2 =>
              val s = s"${words(r.nextInt(12))} ${r.nextInt(10000)}"
              w.write(s"""<c r="$ref" t="inlineStr"><is><t>$s</t></is></c>"""); s
            case _ =>
              val b = r.nextBoolean(); w.write(s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""); b.toString
          }
          sum.cell(text)
          c += 1
        }
        sum.endRow()
        w.write("</row>")
        row += 1
      }
      w.write("</sheetData></worksheet>")
    }
    w.close()
    Item("dense", path, header = header, rows = rows, checksum = sum.value)
  }
}
