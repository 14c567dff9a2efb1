package graft.sources.excel

import java.io.{CharArrayReader, Reader}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future => JFuture, TimeUnit}

/** Pipelined xlsx sheet scan — the Spark-side analogue of the reference's
  * 1-reader + N-encoder worker pipeline (/root/reference/src/lib.rs:240-270):
  * the consumer thread decompresses the worksheet XML and splits it at
  * `</row>` boundaries into ~1M-char chunks; a bounded worker pool parses
  * chunks to cells concurrently; chunks are drained strictly in submission
  * order, so the cell stream is identical to the serial scan.
  *
  * Within one Spark task this recovers the reference's intra-file
  * parallelism for the one-big-file conversion case. Across files,
  * `ExcelToParquet.convertMany` already fans out whole conversions, and a
  * 100 TB corpus is file-parallel first — this pipeline is the
  * single-large-workbook fallback, bounded at `workers * 2` chunks in
  * flight (compare the reference's capacity-16 sync channels,
  * /root/reference/src/lib.rs:170-171).
  *
  * Requires explicit `r=` row attributes (every mainstream producer,
  * including Excel itself, writes them): chunk-local parsing cannot carry
  * the running row counter across chunk boundaries. Callers check the
  * first row tag (see [[XlsxParser.Workbook.cellsForScan]]) and fall back
  * to the serial scanner when they are absent; a mid-file violation fails
  * loudly rather than mis-numbering rows.
  */
final class ParallelCells(
    rd: Reader,
    shared: IndexedSeq[org.apache.spark.unsafe.types.UTF8String],
    workers: Int,
    targetChunkChars: Int = 1 << 20)
    extends Iterator[XlsxParser.Cell] with AutoCloseable {

  private val pool: ExecutorService = Executors.newFixedThreadPool(
    workers,
    (r: Runnable) => {
      val t = new Thread(r, "xlsx-chunk-parser")
      t.setDaemon(true)
      t
    })
  private val inFlight = new java.util.ArrayDeque[JFuture[Array[XlsxParser.Cell]]]()
  private val maxInFlight = workers * 2

  private var buf = new Array[Char](targetChunkChars + (targetChunkChars >> 2))
  private var bufLen = 0
  private var scanned = 0      // prefix of buf already scanned for row ends
  private var lastRowEnd = -1  // end offset (exclusive) of last </row> seen
  private var streamDone = false
  private var producerDone = false
  // Growth cap: a window this wide with no </row> means the sheet is not
  // chunkable (e.g. long runs of self-closing <row/> elements, or one
  // pathologically huge row) — beyond it we stop buffering and hand the
  // remainder to a serial streaming parse instead of growing to OOM.
  private val maxBufferChars = targetChunkChars * 8
  // Non-null once the serial fallback engaged: streams buffered chars then
  // the rest of `rd`; drained strictly after all in-flight chunks.
  private var tail: XlsxParser.CellIterator = null

  private var current: Array[XlsxParser.Cell] = Array.empty
  private var pos = 0
  private var finished = false

  private def parseChunk(chunk: Array[Char]): Array[XlsxParser.Cell] = {
    val crd = new CharArrayReader(chunk)
    val it = new XlsxParser.CellIterator(new FastXml(crd), crd, shared, strictRowRefs = true)
    val out = scala.collection.mutable.ArrayBuffer.empty[XlsxParser.Cell]
    while (it.hasNext) out += it.next()
    out.toArray
  }

  /** Scan newly-read chars for `</row>` ends (plain memcmp loop — trivial
    * against the XML parse it feeds).
    */
  private def scanRowEnds(): Unit = {
    var i = scanned
    val limit = bufLen - 5
    while (i < limit) {
      if (buf(i) == '<' && buf(i + 1) == '/' && buf(i + 2) == 'r' &&
        buf(i + 3) == 'o' && buf(i + 4) == 'w' && buf(i + 5) == '>') {
        lastRowEnd = i + 6
        i += 6
      } else i += 1
    }
    scanned = math.max(0, bufLen - 5)
  }

  /** Reader over the un-chunked remainder: buffered chars first, then the
    * rest of the underlying stream.
    */
  private def remainderReader(): Reader = {
    val held = buf
    val heldLen = bufLen
    new Reader {
      private var i = 0
      override def read(c: Array[Char], off: Int, len: Int): Int = {
        if (i < heldLen) {
          val n = math.min(len, heldLen - i)
          System.arraycopy(held, i, c, off, n)
          i += n
          n
        } else rd.read(c, off, len)
      }
      override def close(): Unit = rd.close()
    }
  }

  /** Produce the next chunk (split at the last known row end, or the whole
    * remainder at EOF); null when the input is exhausted or handed to the
    * serial fallback.
    */
  private def nextChunk(): Array[Char] = {
    while (true) {
      if (!streamDone) {
        if (bufLen == buf.length) { // grow (oversized row straddles buffer)
          if (buf.length >= maxBufferChars) {
            // At a grow point no chunk was emittable, so no </row> exists
            // in the whole buffer: fall back to streaming the remainder
            // serially rather than buffering without bound.
            val r = remainderReader()
            tail = new XlsxParser.CellIterator(
              new FastXml(r), r, shared, strictRowRefs = true)
            bufLen = 0; scanned = 0; lastRowEnd = -1
            return null
          }
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        }
        val n = rd.read(buf, bufLen, buf.length - bufLen)
        if (n < 0) streamDone = true else bufLen += n
        scanRowEnds()
      }
      if (streamDone) {
        if (bufLen == 0) return null
        val chunk = java.util.Arrays.copyOfRange(buf, 0, bufLen)
        bufLen = 0; scanned = 0; lastRowEnd = -1
        return chunk
      }
      if (bufLen >= targetChunkChars && lastRowEnd > 0) {
        val chunk = java.util.Arrays.copyOfRange(buf, 0, lastRowEnd)
        System.arraycopy(buf, lastRowEnd, buf, 0, bufLen - lastRowEnd)
        bufLen -= lastRowEnd
        scanned = 0; lastRowEnd = -1
        return chunk
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def refillPipeline(): Unit = {
    while (!producerDone && inFlight.size < maxInFlight) {
      val c = nextChunk()
      if (c == null) producerDone = true
      else inFlight.add(pool.submit(new Callable[Array[XlsxParser.Cell]] {
        override def call(): Array[XlsxParser.Cell] = parseChunk(c)
      }))
    }
  }

  private def advanceChunk(): Unit = {
    refillPipeline()
    val f = inFlight.poll()
    if (f != null) {
      // surface a worker's parse failure as itself, as the serial scan does
      current =
        try f.get()
        catch { case e: ExecutionException if e.getCause != null => throw e.getCause }
      pos = 0
    } else if (tail != null && tail.hasNext) {
      // in-flight chunks are drained; stream the serial remainder in
      // batches through the same current/pos machinery
      val batch = scala.collection.mutable.ArrayBuffer.empty[XlsxParser.Cell]
      while (tail.hasNext && batch.length < 4096) batch += tail.next()
      current = batch.toArray
      pos = 0
    } else { finished = true; close() }
  }

  override def hasNext: Boolean = {
    while (!finished && pos >= current.length) advanceChunk()
    !finished
  }

  override def next(): XlsxParser.Cell = {
    if (!hasNext) throw new NoSuchElementException
    val c = current(pos)
    pos += 1
    c
  }

  /** Stops the pool and waits for its workers: an idle worker exits at
    * once, one mid-chunk after that chunk's parse, so no parser thread
    * outlives the scan that started it.
    */
  override def close(): Unit = {
    pool.shutdownNow()
    try rd.close()
    finally
      try pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => Thread.currentThread().interrupt() }
  }
}
