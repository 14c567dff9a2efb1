package graft.excel

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.excel.XlsxWriter
import graft.sources.excel.XlsxWriter._

/** Error-surface parity (SURVEY §2.1: open failure, missing worksheet,
  * OOB index, no worksheets — /root/reference/src/lib.rs:36,43-44,105-124).
  */
class ErrorSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture(): String = {
    val p = Files.createTempDirectory("err").resolve("one.xlsx").toString
    XlsxWriter.write(p, Seq(Sheet.dense("only",
      Seq(Seq(Some(XShared("a"))), Seq(Some(XNum(1)))))))
    p
  }

  test("missing file fails with an IO error") {
    val e = intercept[Exception] {
      spark.read.format("excel").load("/nonexistent/nope.xlsx").schema
    }
    assert(e.getMessage != null)
  }

  test("worksheet name not found") {
    val e = intercept[Exception] {
      spark.read.format("excel").option("sheetName", "ghost").load(fixture()).schema
    }
    assert(e.getMessage.contains("'ghost' not found"))
  }

  test("sheet index out of bounds names the bound") {
    val e = intercept[Exception] {
      spark.read.format("excel").option("sheetIndex", "5").load(fixture()).schema
    }
    assert(e.getMessage.contains("index 5 out of bounds"))
  }

  test("not-an-xlsx zip reports the missing workbook part") {
    val p = Files.createTempDirectory("err").resolve("fake.xlsx")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(p))
    zos.putNextEntry(new java.util.zip.ZipEntry("hello.txt"))
    zos.write("hi".getBytes)
    zos.closeEntry(); zos.close()
    val e = intercept[Exception] {
      spark.read.format("excel").load(p.toString).schema
    }
    assert(e.getMessage.contains("workbook.xml missing"))
  }

  test("an unknown read option fails the read, naming the key and the " +
      "accepted set") {
    val path = fixture()
    // two retired options and a typo of sheetPartitions
    for ((key, value) <- Seq("contentStamp" -> "true", "maxSplitFiles" -> "2",
        "sheetPartiton" -> "2")) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format("excel").option(key, value).load(path).collect()
      }
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
      assert(e.getMessage.contains(
        "path, sheetName, sheetIndex, skipRows, sheetPartitions, headerDedup"),
        e.getMessage)
    }
    // the accepted keys still read, in any case
    assert(spark.read.format("excel").option("SHEETINDEX", "0")
      .option("skiprows", "0").load(path).count() == 1)
  }
}
