package graft.fs

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ExcelToParquet
import graft.sources.excel.XlsxWriter
import graft.sources.excel.XlsxWriter._
import graft.streaming.StreamOps

/** A conversion and a RocksDB-state stream start no `chmod` or
  * `readlink` process. Every process the JVM starts is recorded with
  * JFR's `jdk.ProcessStart` event; Spark's own `rm -rf` is allowed.
  */
class ForkFreeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Command lines of the processes started while `body` runs. */
  private def spawned(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutThreshold().withoutStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("forkfree", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  private def shellOuts(cmds: Seq[String]) =
    cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))

  test("the recording sees stock Hadoop's chmod (the guard can fail)") {
    val dir = Files.createTempDirectory("forkfree_stock")
    val conf = new Configuration()
    conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    val stock = FileSystem.newInstance(URI.create("file:///"), conf)
    val cmds = try spawned {
      stock.mkdirs(new Path(dir.toUri.toString, "d"), new FsPermission(0x1c0.toShort))
    } finally stock.close()
    assert(shellOuts(cmds).exists(_.startsWith("chmod")), cmds)
  }

  test("a small conversion and a few RocksDB-state stream triggers fork no chmod/readlink") {
    val dir = Files.createTempDirectory("forkfree")
    val xlsx = dir.resolve("small.xlsx").toString
    XlsxWriter.write(xlsx, Seq(Sheet.dense("s",
      Seq(Some(XShared("id")), Some(XShared("txt"))) +:
        (1 to 200).map(i => Seq(Some(XNum(i)), Some(XStr(s"row$i")))))))
    val events = dir.resolve("events").toString
    spark.range(90).select((col("id") % 7).as("user_id"), (col("id") * 0.25).as("value"),
        concat(lit("t"), (col("id") % 3).cast("string")).as("event_type"))
      .repartition(3).write.parquet(events)
    val schema = spark.read.parquet(events).schema

    var rows = 0L
    var users = 0
    val cmds = spawned {
      rows = ExcelToParquet.convert(spark,
        ExcelToParquet.Options(xlsx, dir.resolve("out.parquet").toString))
      users = StreamOps.streamUserStatsTwsFrom(spark,
          s => s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(events))
        .collect().length
    }
    assert(rows == 200L && users == 7)
    assert(shellOuts(cmds).isEmpty, cmds)
  }
}
