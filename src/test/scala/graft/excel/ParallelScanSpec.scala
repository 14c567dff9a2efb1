package graft.excel

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.excel.{XlsxParser, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** The pipelined chunk-parallel xlsx scan must produce exactly the serial
  * scanner's cell stream (same cells, same order) on a sheet large enough
  * to engage it, including sparse rows and every cell type.
  */
class ParallelScanSpec extends AnyFunSuite {
  import ParallelScanSpec.bigFixture

  test("parallel scan emits the identical cell stream") {
    val wb = new XlsxParser.Workbook(bigFixture)
    try {
      val target = wb.resolveSheet(None, None).target
      // the fixture must actually be big enough to engage the parallel path
      val scan = wb.cellsForScan(target)
      assert(scan.isInstanceOf[graft.sources.excel.ParallelCells],
        "fixture too small to engage the parallel scanner")
      val serial = wb.cells(target)
      var n = 0
      while (serial.hasNext && scan.hasNext) {
        val a = serial.next(); val b = scan.next()
        assert(a == b, s"cell $n diverged: serial=$a parallel=$b")
        n += 1
      }
      assert(!serial.hasNext && !scan.hasNext, s"stream lengths diverge after $n cells")
      assert(n > 300000, s"expected ~400k cells, saw $n")
      scan.close(); serial.close()
    } finally wb.close()
  }

  test("self-closing row runs fall back to the serial tail, stream intact") {
    import graft.sources.excel.{FastXml, ParallelCells}
    // A long run of self-closing <row/> elements contains no </row>
    // terminator, so the chunker can never cut; the buffer must cap out
    // and hand the remainder to the serial streaming parse instead of
    // growing without bound.
    val sb = new StringBuilder("<sheetData>")
    def normalRow(r: Int): Unit =
      sb.append(s"""<row r="$r"><c r="A$r"><v>$r</v></c></row>""")
    (1 to 50).foreach(normalRow)
    (51 to 2000).foreach(r => sb.append(s"""<row r="$r"/>"""))
    (2001 to 2050).foreach(normalRow)
    sb.append("</sheetData>")
    val xml = sb.toString
    val serial = {
      val rd = new java.io.CharArrayReader(xml.toCharArray)
      val it = new XlsxParser.CellIterator(
        new FastXml(rd), rd, IndexedSeq.empty, strictRowRefs = true)
      val out = scala.collection.mutable.ArrayBuffer.empty[XlsxParser.Cell]
      while (it.hasNext) out += it.next()
      out.toList
    }
    val par = new ParallelCells(
      new java.io.CharArrayReader(xml.toCharArray), IndexedSeq.empty,
      workers = 4, targetChunkChars = 1024)
    val got = try par.toList finally par.close()
    assert(got == serial, "fallback stream diverged from the serial scan")
    assert(got.length == 100)
  }

  test("small sheets stay on the serial scanner") {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_small_scan.xlsx")
    if (!Files.exists(p)) {
      XlsxWriter.write(p.toString, Seq(Sheet.dense("s",
        Seq(Seq(Some(XShared("h"): XCell)), Seq(Some(XNum(1): XCell))))))
    }
    val wb = new XlsxParser.Workbook(p.toString)
    try {
      val target = wb.resolveSheet(None, None).target
      assert(!wb.cellsForScan(target).isInstanceOf[graft.sources.excel.ParallelCells])
    } finally wb.close()
  }
}

object ParallelScanSpec {

  /** An 80k-row, 5-column sheet, big enough (≥ 4 MiB of sheet XML) to
    * engage the parallel scanner; written once per temp dir.
    */
  lazy val bigFixture: String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_parallel_scan.xlsx")
    if (!Files.exists(p)) {
      val rows = (1 to 80000).map { i =>
        Seq(
          Some(XNum(i): XCell),
          if (i % 7 == 0) None else Some(XStr(s"text value $i")),
          if (i % 11 == 0) Some(XEmpty) else Some(XNum(i * 0.125)),
          Some(XShared(s"shared${i % 100}")),
          if (i % 13 == 0) Some(XErr("#N/A")) else Some(XBool(i % 2 == 0)))
      }
      XlsxWriter.write(p.toString, Seq(Sheet.dense("data",
        Seq("a", "b", "c", "d", "e").map(h => Option(XShared(h): XCell)) +: rows)))
    }
    p.toString
  }
}
