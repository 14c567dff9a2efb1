package graft.excel

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.sources.excel.{ExcelRead, XlsbWriter, XlsxWriter}
import graft.sources.excel.PipelinedRowReader.{QueueEmptyWaitNs, QueueFullWaitNs}
import graft.sources.excel.XlsxWriter._

/** The `excel` partition reader scans on a producer thread and hands row
  * batches to the task thread through one bounded queue. The contract:
  * the same rows in the same order as a direct `ExcelRead.rows` drain, a
  * producer failure surfaces as itself, and no producer or chunk-parser
  * thread outlives its task, whether the task drains, stops early or is
  * cancelled.
  */
class PipelinedReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: Path = Files.createTempDirectory("pipelined")

  private val pipelineThreads = Set("excel-row-producer", "xlsx-chunk-parser")

  /** Waits (bounded) until no producer or chunk-parser thread is alive;
    * a pool worker or producer may take a moment to exit after its task
    * reported completion or cancellation.
    */
  private def assertNoPipelineThreads(): Unit = {
    def live = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && pipelineThreads(t.getName)).map(_.getName)
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (live.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(live.isEmpty, s"threads outlived their task: ${live.sorted.mkString(", ")}")
  }

  /** Every data row of the first sheet, read directly (no Spark). */
  private def drained(path: String): Seq[Seq[String]] = {
    val ro = ExcelRead.Options(path, None, None, 0)
    val lay = ExcelRead.layout(ro)
    val it = ExcelRead.rows(ro, lay, Array.tabulate(lay.numCols)(identity), lay.numCols)
    try it.map(_.toSeq.map(c => if (c == null) null else c.toString)).toVector
    finally it.close()
  }

  private def read(path: String, opts: (String, String)*): Seq[Seq[String]] = {
    var r = spark.read.format("excel")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(path).collect().map(_.toSeq.map(_.asInstanceOf[String])).toVector
  }

  private def grid(n: Int): Seq[Sheet] = Seq(Sheet.dense("s",
    Seq("id", "txt", "amt").map(h => Option(XShared(h): XCell)) +:
      (1 to n).map(i => Seq(Some(XNum(i)), if (i % 5 == 0) None else Some(XStr(s"row$i")),
        if (i % 7 == 0) Some(XEmpty) else Some(XNum(i * 0.5))))))

  /** Copies `src` with `edit` applied to its first worksheet's XML. */
  private def withSheetXml(src: String, name: String)(edit: String => String): String = {
    val out = dir.resolve(name).toString
    val zin = new ZipFile(src)
    val zos = new ZipOutputStream(new FileOutputStream(out))
    try zin.entries().asScala.foreach { e =>
      val bytes = zin.getInputStream(e).readAllBytes()
      zos.putNextEntry(new ZipEntry(e.getName))
      zos.write(
        if (e.getName == "xl/worksheets/sheet1.xml")
          edit(new String(bytes, StandardCharsets.UTF_8)).getBytes(StandardCharsets.UTF_8)
        else bytes)
      zos.closeEntry()
    } finally { zos.close(); zin.close() }
    out
  }

  /** A dense numeric sheet streamed straight into the zip, big enough
    * that its conversion runs for a while at 4 cores.
    */
  private lazy val denseFixture: String = {
    val path = dir.resolve("dense.xlsx").toString
    val rows = 200000
    val cols = 8
    val zos = new ZipOutputStream(new FileOutputStream(path))
    zos.setLevel(1)
    val w = new BufferedWriter(new OutputStreamWriter(zos, StandardCharsets.UTF_8), 1 << 16)
    def part(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(name)); body; w.flush(); zos.closeEntry()
    }
    part("xl/workbook.xml")(w.write(
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="d" sheetId="1" r:id="rId1"/></sheets></workbook>"""))
    part("xl/_rels/workbook.xml.rels")(w.write(
      """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>"""))
    part("xl/worksheets/sheet1.xml") {
      val last = XlsxWriter.colName(cols - 1)
      w.write(s"""<worksheet><dimension ref="A1:$last${rows + 1}"/><sheetData>""")
      for (r <- 1 to rows + 1) {
        w.write(s"""<row r="$r">""")
        for (c <- 0 until cols) {
          val v = if (r == 1) s"""t="inlineStr"><is><t>h$c</t></is>""" else s"><v>${r * 10 + c}</v>"
          w.write(s"""<c r="${XlsxWriter.colName(c)}$r"$v</c>""")
        }
        w.write("</row>")
      }
      w.write("</sheetData></worksheet>")
    }
    w.close()
    path
  }

  test("same rows, in order, as a direct drain: parallel-scan sheet, small xlsx, " +
      "xlsb, 3-way split") {
    val big = ParallelScanSpec.bigFixture
    assert(read(big) == drained(big))
    val small = dir.resolve("small.xlsx").toString
    XlsxWriter.write(small, grid(3000))
    assert(read(small) == drained(small))
    val xlsb = dir.resolve("small.xlsb").toString
    XlsbWriter.write(xlsb, grid(3000))
    val fromXlsb = read(xlsb)
    assert(fromXlsb == drained(xlsb) && fromXlsb.length == 3000)
    assert(read(small, "sheetPartitions" -> "3") == drained(small))
    assertNoPipelineThreads()
  }

  test("a producer failure mid-stream fails the action with the original exception") {
    val small = dir.resolve("tobreak.xlsx").toString
    XlsxWriter.write(small, grid(5000))
    // row 3001 sits past the first batches the producer hands off
    val broken = withSheetXml(small, "broken.xlsx")(_.replace("""r="A3001"""", """r="A!3001""""))
    val e = intercept[SparkException](read(broken))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[NumberFormatException] &&
      t.getMessage == "bad cell ref: A!3001"), chain.mkString("\n"))
    assertNoPipelineThreads()
  }

  test("a strict r= violation in the first parallel chunk fails the read and " +
      "leaves no chunk-parser thread") {
    // the first <row> keeps its r= (so the parallel scanner engages);
    // row 3 loses it, inside the first chunk
    val broken = withSheetXml(ParallelScanSpec.bigFixture, "refless.xlsx")(
      _.replace("""<row r="3">""", "<row>"))
    val e = intercept[SparkException](read(broken))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[IllegalStateException] &&
      t.getMessage == "chunked xlsx scan requires r= attributes on every <row>"),
      chain.mkString("\n"))
    assertNoPipelineThreads()
  }

  test("early stop: limit(5) returns the first rows and stops the pipeline") {
    val big = ParallelScanSpec.bigFixture
    val got = spark.read.format("excel").load(big).limit(5).collect()
      .map(_.toSeq.map(_.asInstanceOf[String])).toVector
    assert(got == drained(big).take(5))
    assertNoPipelineThreads()
  }

  test("cancelJobGroup during a big-sheet convert ends the job and the pipeline") {
    val src = denseFixture
    val out = dir.resolve("cancelled.parquet").toString
    val group = "pipelined-reader-cancel"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val runner = new Thread(() => {
      spark.sparkContext.setJobGroup(group, "cancel spec", interruptOnCancel = true)
      try ExcelToParquet.convert(spark, ExcelToParquet.Options(src, out))
      catch { case t: Throwable => failure.set(t) }
      finally spark.sparkContext.clearJobGroup()
    })
    runner.start()
    // cancel once the task's producer is running
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (runner.isAlive && System.nanoTime() < deadline &&
        !Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "excel-row-producer"))
      Thread.sleep(5)
    spark.sparkContext.cancelJobGroup(group)
    runner.join(60000)
    assert(!runner.isAlive, "convert did not end after the cancel")
    assert(failure.get != null, "convert finished before the cancel reached it")
    val chain = Iterator.iterate(failure.get)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("cancelled")),
      chain.mkString("\n"))
    assertNoPipelineThreads()
  }

  test("convert reports the pipeline's two wait metrics on the scan node") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case c: CommandResultExec => scans(c.commandPhysicalPlan)
      case other => other.children.flatMap(scans)
    }
    spark.listenerManager.register(listener)
    try {
      val out = dir.resolve("metrics.parquet").toString
      ExcelToParquet.convert(spark, ExcelToParquet.Options(ParallelScanSpec.bigFixture, out))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val found = plans.asScala.toSeq.flatMap(scans)
    assert(found.nonEmpty, plans.asScala.mkString("\n"))
    found.foreach { scan =>
      val m = scan.metrics
      assert(m.contains(QueueEmptyWaitNs) && m.contains(QueueFullWaitNs), m.keys)
      assert(m(QueueEmptyWaitNs).value + m(QueueFullWaitNs).value > 0,
        s"${m(QueueEmptyWaitNs)} ${m(QueueFullWaitNs)}")
    }
  }
}
