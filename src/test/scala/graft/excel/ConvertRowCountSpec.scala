package graft.excel

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.ExcelToParquet.Options
import graft.sources.excel.{XlsbWriter, XlsxWriter}
import graft.sources.excel.XlsxWriter._

/** `convert` returns the row count summed from the committed part files'
  * footers. The contract: that number equals what a Parquet read of the
  * output counts, on every write path, and a single-file serial
  * conversion runs exactly one Spark job (the write).
  */
class ConvertRowCountSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: Path = Files.createTempDirectory("rowcount")

  private def dense(n: Int, name: String = "s") = Seq(Sheet.dense(name,
    Seq(Some(XShared("id")), Some(XShared("txt"))) +:
      (1 to n).map(i => Seq(Some(XNum(i)), Some(XStr(s"row$i"))))))

  private def xlsx(name: String, sheets: Seq[Sheet]): String = {
    val p = dir.resolve(name).toString
    XlsxWriter.write(p, sheets)
    p
  }

  /** Converts and checks the return value against a Parquet read-back. */
  private def converted(opts: Options): Long = {
    val rows = ExcelToParquet.convert(spark, opts)
    assert(rows == spark.read.parquet(opts.output).count(), opts.toString)
    rows
  }

  private def out(name: String) = dir.resolve(s"$name.parquet").toString

  test("header-only sheet converts to 0 rows") {
    val in = xlsx("header.xlsx", dense(0))
    assert(converted(Options(in, out("header"))) == 0L)
  }

  test("xlsb input") {
    val in = dir.resolve("b.xlsb").toString
    XlsbWriter.write(in, dense(250))
    assert(converted(Options(in, out("xlsb"))) == 250L)
  }

  test("sparse sheet read with skipRows") {
    // two title rows above the header, blank rows and gaps in the data
    val cells: Map[(Int, Int), XCell] = Map(
      (0, 0) -> XStr("title"), (1, 3) -> XStr("subtitle"),
      (2, 0) -> XShared("a"), (2, 2) -> XShared("c"),
      (3, 0) -> XNum(1), (5, 2) -> XStr("x"), (9, 1) -> XNum(2.5),
      (12, 0) -> XEmpty, (14, 2) -> XNum(7))
    val in = xlsx("sparse.xlsx", Seq(Sheet("s", cells)))
    val rows = converted(Options(in, out("sparse"), skipRows = 2))
    assert(rows > 0L)
  }

  test("directory of two workbooks") {
    val sub = Files.createDirectory(dir.resolve("two"))
    XlsxWriter.write(sub.resolve("a.xlsx").toString, dense(30))
    XlsxWriter.write(sub.resolve("b.xlsx").toString, dense(45))
    assert(converted(Options(sub.toString, out("two"))) == 75L)
  }

  test("sheetPartitions = 4") {
    val in = xlsx("split.xlsx", dense(6000))
    assert(converted(Options(in, out("split"), sheetPartitions = 4)) == 6000L)
    assert(spark.read.parquet(out("split")).inputFiles.length > 1,
      "the split scan should write several part files")
  }

  test("a single-file serial conversion is one Spark job") {
    val in = xlsx("one.xlsx", dense(500))
    val group = "convert-row-count-spec"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "one conversion")
    try {
      assert(ExcelToParquet.convert(spark, Options(in, out("one"))) == 500L)
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 1)
  }
}
