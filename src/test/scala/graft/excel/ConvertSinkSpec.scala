package graft.excel

import java.io.{ByteArrayOutputStream, File, FileOutputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{ConfBroadcasts, ListenerBusDrain}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2ExistingTableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.ExcelToParquet.Options
import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** `ExcelToParquet.convert` writes through graft's conversion sink, a
  * DataSource V2 write that runs Spark's own Parquet writer with a Hadoop
  * conf shipped once per job as a broadcast. The contract: the part files
  * are the ones `df.write.parquet` writes for the same frame (names up to
  * the job id, rows in part-file order, schema, codec, row groups, footer
  * metadata and size); V1's file rule (partition 0 always writes, other
  * empty partitions do not); a failed or overwritten write leaves no
  * stray file; the broadcast is released; the per-task factory is small;
  * a file-rolling setting the sink cannot honour fails the conversion;
  * and the write node reports what it wrote.
  */
class ConvertSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: Path = Files.createTempDirectory("convertsink")

  private def out(name: String) = dir.resolve(s"$name.parquet").toString

  private def grid(n: Int, header: Seq[String] = Seq("id", "txt", "amt")): Seq[Sheet] =
    Seq(Sheet.dense("s", header.map(h => Option(XShared(h): XCell)) +:
      (1 to n).map(i => Seq(Some(XNum(i)), if (i % 5 == 0) None else Some(XStr(s"row$i")),
        if (i % 7 == 0) Some(XEmpty) else Some(XNum(i * 0.5))))))

  private def xlsx(name: String, sheets: Seq[Sheet]): String = {
    val p = dir.resolve(name).toString
    XlsxWriter.write(p, sheets)
    p
  }

  /** Executed plans of the queries run while it is registered. */
  private final class Plans extends QueryExecutionListener {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe.executedPlan)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Runs `f` and returns its outcome with the conversion-sink write
    * nodes of the queries it ran, failing unless there is exactly one.
    */
  private def viaSink[A](f: => A): (Try[A], V2ExistingTableWriteExec) = {
    val plans = new Plans
    spark.listenerManager.register(plans)
    val result = try Try(f) finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(plans)
    }
    val writes = plans.seen.asScala.toSeq.flatMap(nodes).collect {
      case w: V2ExistingTableWriteExec if w.write.getClass.getName.startsWith("graft.ConvertSink") => w
    }
    assert(writes.size == 1, s"expected one conversion-sink write, got ${writes.size}")
    (result, writes.head)
  }

  private def converted(opts: Options): (Long, V2ExistingTableWriteExec) = {
    val (rows, node) = viaSink(ExcelToParquet.convert(spark, opts))
    (rows.get, node)
  }

  private def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)

  private def footer(f: File): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getPath), new Configuration()))
    try r.getFooter finally r.close()
  }

  private def rowsOf(f: File): Seq[Seq[Any]] =
    spark.read.parquet(f.getPath).collect().map(_.toSeq).toSeq

  /** `df.write.parquet` of the same frame, with the options V1 conversions used. */
  private def v1(opts: Options, dest: String): Unit =
    ExcelToParquet.read(spark, opts).write.mode("overwrite").option("compression", "zstd")
      .option("parquet.block.row.count.limit", opts.batchSize).parquet(dest)

  private val rowMeta = "org.apache.spark.sql.parquet.row.metadata"

  private def assertSameAsV1(name: String, opts: Options): Unit = {
    val (rows, _) = converted(opts)
    val ref = out(s"$name-v1")
    v1(opts, ref)
    val (got, want) = (partFiles(opts.output), partFiles(ref))
    // same partitions, same extension; the job id differs per write
    def shape(f: File) = f.getName.replaceAll("-[0-9a-f-]{36}-", "-<job>-")
    assert(got.map(shape) == want.map(shape), name)
    assert(got.map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum).sum == rows, name)
    got.zip(want).foreach { case (g, w) =>
      val (fg, fw) = (footer(g), footer(w))
      assert(rowsOf(g) == rowsOf(w), s"$name ${g.getName}")
      assert(fg.getFileMetaData.getSchema == fw.getFileMetaData.getSchema, name)
      assert(fg.getFileMetaData.getKeyValueMetaData.get(rowMeta) ==
        fw.getFileMetaData.getKeyValueMetaData.get(rowMeta), name)
      assert(fg.getBlocks.asScala.map(_.getRowCount) == fw.getBlocks.asScala.map(_.getRowCount), name)
      val codecs = fg.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      assert(codecs == fw.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet)
      assert(codecs.isEmpty || codecs == Set("ZSTD"), s"$name $codecs")
      assert(g.length == w.length, s"$name ${g.getName}")
    }
  }

  test("part files match df.write.parquet: xlsx, xlsb, sparse skipRows, 4-way split") {
    assertSameAsV1("small", Options(xlsx("small.xlsx", grid(700)), out("small"), batchSize = 100))
    val xlsb = dir.resolve("small.xlsb").toString
    XlsbWriter.write(xlsb, grid(450))
    assertSameAsV1("xlsb", Options(xlsb, out("xlsb"), batchSize = 64))
    val cells: Map[(Int, Int), XCell] = Map(
      (0, 0) -> XStr("title"), (1, 3) -> XStr("subtitle"),
      (2, 0) -> XShared("a"), (2, 2) -> XShared("c"),
      (3, 0) -> XNum(1), (5, 2) -> XStr("x"), (9, 1) -> XNum(2.5),
      (12, 0) -> XEmpty, (14, 2) -> XNum(7))
    assertSameAsV1("sparse",
      Options(xlsx("sparse.xlsx", Seq(Sheet("s", cells))), out("sparse"), skipRows = 2))
    assertSameAsV1("split",
      Options(xlsx("split.xlsx", grid(6000)), out("split"), sheetPartitions = 4, batchSize = 500))
    assert(partFiles(out("split")).size > 1, "the split should write several part files")
  }

  test("an empty result leaves exactly one schema-bearing part file") {
    val (rows, _) = converted(Options(xlsx("header.xlsx", grid(0)), out("header")))
    assert(rows == 0L)
    val files = partFiles(out("header"))
    assert(files.map(_.getName.take(10)) == Seq("part-00000"))
    val fm = footer(files.head)
    assert(fm.getFileMetaData.getSchema.getFields.asScala.map(_.getName) == Seq("id", "txt", "amt"))
    assert(fm.getBlocks.isEmpty)
  }

  test("surplus split intents add no file") {
    // 3 rows cannot fill 8 chunks: the surplus intents' partitions are empty
    val (rows, _) = converted(
      Options(xlsx("tiny.xlsx", grid(3)), out("tiny"), sheetPartitions = 8))
    assert(rows == 3L)
    val files = partFiles(out("tiny"))
    assert(files.nonEmpty && files.size < 8, files.map(_.getName))
    files.tail.foreach { f =>
      assert(footer(f).getBlocks.asScala.map(_.getRowCount).sum > 0, s"${f.getName} is empty")
    }
  }

  /** Copies `src` with `edit` applied to its first worksheet's XML. */
  private def withSheetXml(src: String, name: String)(edit: String => String): String = {
    val dest = dir.resolve(name).toString
    val zin = new ZipFile(src)
    val zos = new ZipOutputStream(new FileOutputStream(dest))
    try zin.entries().asScala.foreach { e =>
      val bytes = zin.getInputStream(e).readAllBytes()
      zos.putNextEntry(new ZipEntry(e.getName))
      zos.write(
        if (e.getName == "xl/worksheets/sheet1.xml")
          edit(new String(bytes, StandardCharsets.UTF_8)).getBytes(StandardCharsets.UTF_8)
        else bytes)
      zos.closeEntry()
    } finally { zos.close(); zin.close() }
    dest
  }

  test("a failure mid-sheet keeps the original exception and leaves no part file or _temporary") {
    val good = xlsx("tobreak.xlsx", grid(5000))
    // row 3001 sits well past the first rows the task has written
    val broken = withSheetXml(good, "broken.xlsx")(_.replace("""r="A3001"""", """r="A!3001""""))
    val dest = out("broken")
    val (result, _) = viaSink(ExcelToParquet.convert(spark, Options(broken, dest, batchSize = 100)))
    val e = result.failed.get
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => t.isInstanceOf[NumberFormatException] &&
      t.getMessage == "bad cell ref: A!3001"), chain.mkString("\n"))
    val left = Option(new File(dest).list).map(_.toSeq).getOrElse(Nil)
    assert(!left.exists(n => n.contains("part-") || n == "_temporary"), left)
  }

  test("overwrite replaces a previous output's part files") {
    val dest = out("over")
    converted(Options(xlsx("many.xlsx", grid(6000)), dest, sheetPartitions = 4))
    assert(partFiles(dest).size > 1)
    val (rows, _) = converted(Options(xlsx("few.xlsx", grid(10)), dest))
    assert(rows == 10L)
    assert(partFiles(dest).map(_.getName.take(10)) == Seq("part-00000"))
    assert(spark.read.parquet(dest).count() == 10L)
  }

  test("no Hadoop-conf broadcast is left after a conversion") {
    val before = ConfBroadcasts()
    converted(Options(xlsx("bc.xlsx", grid(200)), out("bc")))
    // destroy() removes the blocks asynchronously; wait, bounded
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((ConfBroadcasts() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert((ConfBroadcasts() -- before).isEmpty)
  }

  test("the serialized writer factory is small") {
    // V1's per-task closure carries the session Hadoop conf twice (~110 KB each)
    val (_, node) = converted(Options(xlsx("factory.xlsx", grid(20)), out("factory")))
    val batch = node.write.toBatch
    val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    try {
      val bytes = new ByteArrayOutputStream()
      val oos = new ObjectOutputStream(bytes)
      oos.writeObject(factory)
      oos.close()
      assert(bytes.size < 16 * 1024, s"${bytes.size} bytes")
    } finally batch.abort(Array.empty)
  }

  test("spark.sql.files.maxRecordsPerFile > 0 fails the conversion before it touches the output") {
    val dest = out("roll")
    converted(Options(xlsx("roll.xlsx", grid(50)), dest))
    val kept = partFiles(dest).map(_.getName)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    // it fails while the write is planned, so no write node runs
    val e = try intercept[IllegalArgumentException](
      ExcelToParquet.convert(spark, Options(xlsx("roll2.xlsx", grid(30)), dest)))
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("spark.sql.files.maxRecordsPerFile"))),
      chain.mkString("\n"))
    assert(partFiles(dest).map(_.getName) == kept)
  }

  test("the write node reports files, rows and bytes") {
    val dest = out("metrics")
    val (rows, node) = converted(Options(xlsx("metrics.xlsx", grid(6000)), dest, sheetPartitions = 4))
    val files = partFiles(dest).filter(_.getName.endsWith(".parquet"))
    val m = node.metrics
    assert(m("numFiles").value == files.size)
    assert(m("numOutputRows").value == rows && rows == 6000L)
    assert(m("numOutputBytes").value == files.map(_.length).sum)
  }

  test("headers that differ only in case fail the conversion, as df.write.parquet does") {
    val in = xlsx("case.xlsx", grid(5, header = Seq("Name", "name", "amt")))
    val e = intercept[AnalysisException](ExcelToParquet.convert(spark, Options(in, out("case"))))
    assert(e.getCondition == "COLUMN_ALREADY_EXISTS", e.getMessage)
    assert(partFiles(out("case")).isEmpty)
  }
}
