package graft.excel

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.sources.excel.XlsxWriter
import graft.sources.excel.XlsxWriter._

/** R8 parity: the reference writes one parquet row group per batch of
  * `batch_size` rows (/root/reference/src/lib.rs:281). Our sink maps
  * --batch-size to parquet.block.row.count.limit; this spec reads the
  * footer back and asserts the actual group geometry.
  */
class RowGroupGeometrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def perFileGroupSizes(outDir: String): Seq[Seq[Long]] = {
    val conf = new Configuration()
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(conf)
    fs.listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try rd.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
        finally rd.close()
      }
  }

  private def rowGroupSizes(outDir: String): Seq[Long] =
    perFileGroupSizes(outDir).flatten

  private def fixture(n: Int) = Seq(Sheet.dense("s",
    Seq(Some(XShared("id")), Some(XShared("v"))) +:
      (1 to n).map(i => Seq(Some(XNum(i)), Some(XNum(i * 2))))))

  test("row groups hold exactly batchSize rows, last group partial") {
    val dir = Files.createTempDirectory("rg")
    val in = dir.resolve("f.xlsx").toString
    XlsxWriter.write(in, fixture(2350))
    val out = dir.resolve("out.parquet").toString
    val rows = ExcelToParquet.convert(spark,
      ExcelToParquet.Options(in, out, batchSize = 1000))
    assert(rows == 2350L)
    assert(rowGroupSizes(out) == Seq(1000L, 1000L, 350L))
  }

  test("batchSize = 0 delegates to the byte-based writer (single group here)") {
    val dir = Files.createTempDirectory("rg0")
    val in = dir.resolve("f.xlsx").toString
    XlsxWriter.write(in, fixture(2350))
    val out = dir.resolve("out.parquet").toString
    ExcelToParquet.convert(spark,
      ExcelToParquet.Options(in, out, batchSize = 0))
    assert(rowGroupSizes(out) == Seq(2350L))
  }

  test("geometry holds across the order-preserving parallel writer") {
    val dir = Files.createTempDirectory("rgp")
    val in = dir.resolve("f.xlsx").toString
    XlsxWriter.write(in, fixture(1100))
    val out = dir.resolve("out.parquet").toString
    ExcelToParquet.convert(spark,
      ExcelToParquet.Options(in, out, batchSize = 250, sheetPartitions = 2))
    // each chunk task of the split scan writes its own part file, and
    // the byte-range chunk boundary makes the per-file split approximate
    // (e.g. 560/540) — the geometry contract is per FILE: every group is
    // full at 250 rows except a final partial one
    val files = perFileGroupSizes(out)
    assert(files.size == 2, files.toString)
    assert(files.flatten.sum == 1100L, files.toString)
    files.foreach { groups =>
      assert(groups.init.forall(_ == 250L), files.toString)
      assert(groups.last <= 250L && groups.last > 0L, files.toString)
    }
    // and lexicographic part-file order is sheet row order (each part
    // read on its own: a multi-file Spark read orders splits by size)
    val parts = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(parts.flatMap(p => spark.read.parquet(p).collect().map(_.getString(0))) ==
      (1 to 1100).map(_.toString))
  }
}
