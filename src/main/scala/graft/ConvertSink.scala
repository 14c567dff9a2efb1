package graft

import java.io.IOException
import java.util.{Map => JMap, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The conversion sink: the DataSource V2 write behind
  * `ExcelToParquet.convert`, addressed by class name (no short format
  * name). It runs Spark's own Parquet writer with the conf `df.write.parquet`
  * would give it, so each part file has the same bytes. What differs is
  * how that conf travels: the driver calls `ParquetFileFormat.prepareWrite`
  * once per job and ships the prepared Hadoop conf as one broadcast, the
  * way Spark's file scans ship theirs, instead of inside every task's
  * closure (V1's write description and stats tracker each carry a copy
  * of the ~1,100-entry session conf, deserialized per task).
  *
  * Commit: a task attempt writes `<out>/_temporary/<job>/<task>-<name>`;
  * the job commit renames each partition's winning attempt to
  * `part-<partition>-<job>-c000.zstd.parquet`, deletes `_temporary` and
  * writes `_SUCCESS`. A task or job abort deletes what it wrote; commit
  * and abort both destroy the broadcast. Overwrite clears the output
  * directory at job start, as V1's overwrite does.
  *
  * V1's file rule: partition 0 always writes a file, so an empty result
  * still leaves one schema-bearing file; any other empty partition
  * writes none. One file per task: the sink never rolls files, so a
  * positive `spark.sql.files.maxRecordsPerFile` fails the write.
  */
final class ConvertSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("the conversion sink takes the schema of the frame it writes")

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    new ConvertSink.SinkTable(schema)
}

object ConvertSink {

  /** What a task attempt hands the job commit: its partition, its rows
    * and its file (none for an empty partition other than 0).
    */
  private final case class Committed(partition: Int, rows: Long, file: Option[PartFile])
    extends WriterCommitMessage

  /** A task attempt's temp file and the name the job commit gives it. */
  private final case class PartFile(temp: String, name: String)

  private final class SinkTable(tableSchema: StructType) extends Table with SupportsWrite {
    override def name(): String = "graft conversion sink"
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] = Set(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new SupportsTruncate {
      private var truncating = false
      override def truncate(): WriteBuilder = { truncating = true; this }
      override def build(): Write = new ParquetWrite(info, truncating)
    }
  }

  /** One write job: the checks V1's write makes at planning, then the
    * job's setup, commit and abort.
    */
  private final class ParquetWrite(info: LogicalWriteInfo, truncating: Boolean)
      extends Write with BatchWrite {
    private val spark = SparkSession.active
    // keys lower-cased by CaseInsensitiveStringMap
    private val options: Map[String, String] = info.options.asScala.toMap
    private val output = options.getOrElse("path",
      throw new IllegalArgumentException("the conversion sink requires a path"))
    private val jobId = UUID.randomUUID().toString
    private var fs: FileSystem = _
    private var dir: Path = _
    private var conf: Broadcast[SerializableConfiguration] = _

    // V1's duplicate-column check, with V1's error
    GraftColumnBridge.checkColumnNameDuplication(
      info.schema.fieldNames.toSeq, spark.sessionState.conf.caseSensitiveAnalysis)
    private val maxRecords = options.get("maxrecordsperfile").map(_.toLong)
      .getOrElse(spark.sessionState.conf.maxRecordsPerFile)
    if (maxRecords > 0) throw new IllegalArgumentException(
      s"the conversion sink writes one file per task and does not roll files: " +
        s"spark.sql.files.maxRecordsPerFile (or the maxRecordsPerFile option) is $maxRecords; " +
        "set it to 0 for conversions")

    override def description(): String = s"ConvertSink $output"
    override def toString: String = description()
    override def toBatch: BatchWrite = this
    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new NumFiles, new NumOutputRows, new NumOutputBytes)

    /** Job start, just before the tasks launch: clear the output on
      * overwrite, prepare the writer and broadcast its conf (last, so
      * nothing before it can leave the broadcast pinned).
      */
    override def createBatchWriterFactory(physical: PhysicalWriteInfo): DataWriterFactory = {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val path = new Path(output)
      fs = path.getFileSystem(hadoopConf)
      dir = fs.makeQualified(path)
      if (truncating && fs.exists(dir) && !fs.delete(dir, true))
        throw new IOException(s"unable to clear output directory $dir before writing to it")
      val job = Job.getInstance(hadoopConf)
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      FileOutputFormat.setOutputPath(job, dir)
      val writers = new ParquetFileFormat().prepareWrite(spark, job, options, info.schema)
      conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
      new Factory(conf, writers, info.schema, dir.toString, jobId)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      messages.collect { case c: Committed => c }.sortBy(_.partition).flatMap(_.file).foreach { f =>
        val dest = new Path(dir, f.name)
        if (!fs.rename(new Path(f.temp), dest)) throw new IOException(s"could not move ${f.temp} to $dest")
      }
      fs.delete(new Path(dir, "_temporary"), true)
      fs.create(new Path(dir, "_SUCCESS"), true).close()
      release()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      try if (fs != null) {
        // a failed job commit may already have moved some files into place
        messages.collect { case Committed(_, _, Some(f)) => new Path(dir, f.name) }
          .foreach(fs.delete(_, false))
        fs.delete(new Path(dir, "_temporary"), true)
      } finally release()

    private def release(): Unit = if (conf != null) {
      conf.destroy()
      conf = null
    }
  }

  private final class Factory(
      val conf: Broadcast[SerializableConfiguration],
      val writers: OutputWriterFactory,
      val schema: StructType,
      val dir: String,
      val jobId: String) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new PartWriter(this, partitionId, taskId)
  }

  private final class PartWriter(f: Factory, partition: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    // the task's own copy of the conf (the broadcast value is shared by
    // every task), made only by a task that writes a file
    private lazy val context = new TaskAttemptContextImpl(new JobConf(f.conf.value.value),
      new TaskAttemptID("graft", 0, TaskType.MAP, partition, TaskContext.get().attemptNumber()))
    private lazy val name = f"part-$partition%05d-${f.jobId}-c000${f.writers.getFileExtension(context)}"
    private lazy val temp = new Path(new Path(f.dir, s"_temporary/${f.jobId}"), s"$taskId-$name")
    private var writer: OutputWriter = _
    private var closed = false
    private var rows = 0L
    private var bytes = 0L

    private def open(): Unit = writer = f.writers.newInstance(temp.toString, f.schema, context)

    override def write(row: InternalRow): Unit = {
      if (writer == null) open()
      writer.write(row)
      rows += 1
    }

    // closes the file once the rows are in, so the byte count is known
    // when Spark reads the task's metrics, before it commits
    override def writeAll(records: java.util.Iterator[InternalRow]): Unit = {
      while (records.hasNext) write(records.next())
      finish()
    }

    private def finish(): Unit = if (!closed) {
      closed = true
      if (writer == null && partition == 0) open()
      if (writer != null) {
        writer.close()
        bytes = temp.getFileSystem(context.getConfiguration).getFileStatus(temp).getLen
      }
    }

    override def commit(): WriterCommitMessage = {
      finish()
      Committed(partition, rows, Option(writer).map(_ => PartFile(temp.toString, name)))
    }

    override def abort(): Unit = if (writer != null) {
      try if (!closed) writer.close()
      finally temp.getFileSystem(context.getConfiguration).delete(temp, false)
    }

    override def close(): Unit = ()

    override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
      TaskMetric("numFiles", if (writer == null) 0L else 1L),
      TaskMetric("numOutputRows", rows),
      TaskMetric("numOutputBytes", bytes))
  }

  private final case class TaskMetric(name: String, value: Long) extends CustomTaskMetric

  // V1's write-node metrics; Spark instantiates these by class name
  class NumFiles extends CustomSumMetric {
    override def name(): String = "numFiles"
    override def description(): String = "number of written files"
  }
  class NumOutputRows extends CustomSumMetric {
    override def name(): String = "numOutputRows"
    override def description(): String = "number of output rows"
  }
  class NumOutputBytes extends CustomSumMetric {
    override def name(): String = "numOutputBytes"
    override def description(): String = "written output bytes"
  }
}
