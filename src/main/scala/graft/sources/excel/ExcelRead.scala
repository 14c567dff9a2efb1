package graft.sources.excel

import scala.collection.mutable

/** Conversion semantics shared by schema inference (driver) and the
  * partition reader (executor): header resolution + sparse-cell → fixed
  * width row pivot, replicating the reference's ConversionContext
  * (/root/reference/src/lib.rs:156-223,403-439).
  *
  * Key semantics:
  *   - header row = used-range start row + skipRows (relative, not
  *     absolute; /root/reference/src/lib.rs:162);
  *   - rows at/before the header are consumed, not emitted;
  *   - a data row materializes only if at least one of its cells exists in
  *     the file (fully blank rows are dropped, /root/reference/src/lib.rs:412-418);
  *   - within a row: absent cell -> null, present-but-empty cell -> ""
  *     (/root/reference/src/lib.rs:398,426-432);
  *   - deliberate deviation (documented in SURVEY §1.3): a sheet with no
  *     rows past the header yields an empty result with the inferred
  *     schema, where the reference writes no output file at all.
  */
object ExcelRead {

  final case class Options(
      path: String,
      sheetName: Option[String],
      sheetIndex: Option[Int],
      skipRows: Int,
      // >1 splits ONE sheet into N row-aligned chunk partitions, spilled
      // once by the first task over the inflated part (SURVEY §7.4): xlsx
      // needs r= row refs, xlsb always splits (BIFF12 row headers carry
      // absolute row ids)
      sheetPartitions: Int = 1,
      // "unique" (default) or "reference" — see HeaderNames
      headerDedup: String = "unique")

  final case class SheetLayout(
      target: String,
      startRow: Int,
      startCol: Int,
      numCols: Int,
      headerRowIdx: Int,
      names: Seq[String])

  /** Driver-side: resolve sheet, used range, and header names. */
  def layout(opts: Options): SheetLayout = {
    val wb = WorkbookSource.open(opts.path)
    try {
      val sheet = wb.resolveSheet(opts.sheetName, opts.sheetIndex)
      val dim = wb.dimensions(sheet.target)
        .getOrElse(XlsxParser.Dimensions(0, 0, 0, 0)) // empty sheet
      val headerRowIdx = dim.startRow + opts.skipRows
      val headerCells = mutable.Map.empty[Int, String]
      val it = wb.cells(sheet.target)
      try {
        var done = false
        while (!done && it.hasNext) {
          val c = it.next()
          if (c.row > headerRowIdx) done = true
          else if (c.row == headerRowIdx) headerCells(c.col) = c.text.toString
        }
      } finally it.close()
      val raw = (0 until dim.numCols).map { i =>
        headerCells.get(dim.startCol + i).filter(_.nonEmpty)
      }
      SheetLayout(sheet.target, dim.startRow, dim.startCol, dim.numCols,
        headerRowIdx, HeaderNames.build(raw, opts.headerDedup))
    } finally wb.close()
  }

  /** Empty row stream for surplus split-scan intents (the sheet
    * yielded fewer chunks than the planner's lazy intent count).
    */
  val noRows: Iterator[Array[AnyRef]] with AutoCloseable =
    new Iterator[Array[AnyRef]] with AutoCloseable {
      override def hasNext: Boolean = false
      override def next(): Array[AnyRef] = throw new NoSuchElementException
      override def close(): Unit = ()
    }

  /** Executor-side: stream data rows as fixed-width arrays (null = absent
    * cell; values are UTF8String, pre-encoded at parse time). `outPos(i)`
    * gives the output slot for sheet position i, or -1 if the column was
    * pruned; `outWidth` is the projected row width. Each emitted array is
    * freshly allocated, so the reader may hand it to an InternalRow
    * without copying.
    */
  def rows(opts: Options, lay: SheetLayout, outPos: Array[Int], outWidth: Int): RowIterator =
    new RowIterator(opts, lay, outPos, outWidth, null)

  /** Chunk variant for the splittable single-sheet scan: reads one
    * spilled chunk file of complete rows (planned by the workbook's
    * spillRowChunks — XML row elements for xlsx, BIFF12 records for
    * xlsb). The workbook is still opened for the shared-strings table;
    * the sheet part itself is never re-inflated.
    */
  def rowsForChunk(
      opts: Options, lay: SheetLayout, outPos: Array[Int], outWidth: Int,
      chunkPath: String): RowIterator =
    new RowIterator(opts, lay, outPos, outWidth, chunkPath)

  final class RowIterator(
      opts: Options, lay: SheetLayout, outPos: Array[Int], outWidth: Int,
      chunkPath: String)
      extends Iterator[Array[AnyRef]] with AutoCloseable {

    private val wb = WorkbookSource.open(opts.path)
    private val cells =
      try {
        if (chunkPath != null) wb.chunkCells(chunkPath)
        else wb.cellsForScan(lay.target)
      } catch { case t: Throwable => wb.close(); throw t }
    private var pendingRow = -1
    private var pending: Array[AnyRef] = _
    private var nextRow: Array[AnyRef] = _
    private var carried: XlsxParser.Cell = _
    private var exhausted = false

    private def put(c: XlsxParser.Cell): Unit = {
      val pos = c.col - lay.startCol
      if (pos >= 0 && pos < lay.numCols && outPos(pos) >= 0)
        pending(outPos(pos)) = c.text
    }

    private def advance(): Unit = {
      nextRow = null
      while (nextRow == null && !exhausted) {
        val c =
          if (carried != null) { val x = carried; carried = null; x }
          else if (cells.hasNext) cells.next()
          else { // flush last pending row
            exhausted = true
            if (pending != null) { nextRow = pending; pending = null }
            close()
            return
          }
        if (c.row > lay.headerRowIdx) {
          if (pending == null) {
            pending = new Array[AnyRef](outWidth)
            pendingRow = c.row
            put(c)
          } else if (c.row == pendingRow) {
            put(c)
          } else { // row change: emit previous, start new
            nextRow = pending
            pending = new Array[AnyRef](outWidth)
            pendingRow = c.row
            put(c)
          }
        }
      }
    }

    advance()

    override def hasNext: Boolean = nextRow != null
    override def next(): Array[AnyRef] = {
      val r = nextRow
      if (r == null) throw new NoSuchElementException
      advance()
      r
    }
    override def close(): Unit = {
      try cells.close() finally wb.close()
    }
  }
}
