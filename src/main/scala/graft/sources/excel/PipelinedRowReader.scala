package graft.sources.excel

import java.util.concurrent.ArrayBlockingQueue

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.PartitionReader

/** The `excel` source's partition reader, a two-stage pipeline like the
  * reference converter's scan thread feeding its encoders through
  * bounded channels. A producer thread drains the row stream (inflate,
  * cell scan, row pivot) into batches and hands them through one bounded
  * FIFO queue; the task thread only takes rows, so Spark's projection,
  * Parquet encode and write run while the next rows are scanned. One
  * producer and one FIFO keep the row order of the stream.
  *
  * The producer owns `rows` from construction on and closes it on its
  * own thread, so the workbook is never closed under a concurrent read.
  * A producer failure is rethrown, as the same exception object, from
  * the task thread's `next()`. `close()` (run by the task-completion
  * listener, also on kill and early stop) stops the producer, wakes it
  * if it is blocked on a full queue, and waits for it to exit.
  *
  * Two task metrics show which side of the queue bounds the task:
  * `queueEmptyWaitNs` (the task waited for rows: read-bound) and
  * `queueFullWaitNs` (the producer waited for the task: write-bound).
  */
final class PipelinedRowReader(rows: Iterator[Array[AnyRef]] with AutoCloseable, width: Int)
    extends PartitionReader[InternalRow] {
  import PipelinedRowReader._

  // in-flight rows are bounded by cells, not only rows, so a wide
  // sheet holds no more in memory than a narrow one
  private val batchRows = math.max(1, math.min(MaxBatchRows, MaxBatchCells / math.max(width, 1)))
  private val queue = new ArrayBlockingQueue[AnyRef](QueueDepth)
  @volatile private var stopped = false
  @volatile private var fullWaitNs = 0L // written by the producer only
  private var emptyWaitNs = 0L

  private var batch: Array[Array[AnyRef]] = Array.empty
  private var pos = 0
  private var done = false

  private val producer = new Thread(() => produce(), "excel-row-producer")
  producer.setDaemon(true)
  producer.start()

  private def produce(): Unit = {
    var failure: Throwable = null
    try {
      while (!stopped && rows.hasNext) {
        val b = new Array[Array[AnyRef]](batchRows)
        var n = 0
        while (n < batchRows && !stopped && rows.hasNext) { b(n) = rows.next(); n += 1 }
        hand(if (n == b.length) b else java.util.Arrays.copyOf(b, n))
      }
    } catch { case t: Throwable => failure = t }
    try rows.close()
    catch { case t: Throwable => if (failure == null) failure = t else failure.addSuppressed(t) }
    hand(if (failure == null) End else Failed(failure))
  }

  /** Blocks on a full queue until the task takes a batch or `close()`
    * clears the queue; after a stop nothing is handed.
    */
  private def hand(item: AnyRef): Unit =
    if (!stopped && !queue.offer(item)) {
      val t0 = System.nanoTime()
      queue.put(item)
      fullWaitNs += System.nanoTime() - t0
    }

  override def next(): Boolean = {
    while (pos >= batch.length && !done) {
      var item = queue.poll()
      if (item == null) {
        val t0 = System.nanoTime()
        item = queue.take() // interruptible: a killed task ends here
        emptyWaitNs += System.nanoTime() - t0
      }
      item match {
        case b: Array[Array[AnyRef]] => batch = b; pos = 0
        case Failed(t) => done = true; throw t
        case _ => done = true // End
      }
    }
    if (pos < batch.length) { pos += 1; true } else false
  }

  override def get(): InternalRow =
    // cells are UTF8String already (encoded at parse time) and each row
    // array is freshly allocated — wrap it directly, no copy
    new GenericInternalRow(batch(pos - 1).asInstanceOf[Array[Any]])

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(taskMetric(QueueEmptyWaitNs, emptyWaitNs), taskMetric(QueueFullWaitNs, fullWaitNs))

  override def close(): Unit = {
    stopped = true
    queue.clear() // only the producer adds, at most once more before it sees `stopped`
    var interrupted = false
    while (producer.isAlive)
      try producer.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}

object PipelinedRowReader {
  val QueueEmptyWaitNs = "queueEmptyWaitNs"
  val QueueFullWaitNs = "queueFullWaitNs"

  private val QueueDepth = 8
  private val MaxBatchRows = 1024
  private val MaxBatchCells = 32 * 1024

  private case object End
  private final case class Failed(t: Throwable)

  private def taskMetric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  /** The metrics the excel scan reports (`Scan.supportedCustomMetrics`). */
  def metrics: Array[CustomMetric] = Array(new QueueEmptyWait, new QueueFullWait)
}

/** Task values are nanoseconds; the scan node shows their sum in ms. */
sealed abstract class QueueWaitMetric(n: String, d: String) extends CustomMetric {
  override def name(): String = n
  override def description(): String = d
  override def aggregateTaskMetrics(taskMetrics: Array[Long]): String =
    f"${taskMetrics.sum / 1e6}%.1f ms"
}

final class QueueEmptyWait extends QueueWaitMetric(PipelinedRowReader.QueueEmptyWaitNs,
  "excel rows: task waited for the scan (read-bound)")

final class QueueFullWait extends QueueWaitMetric(PipelinedRowReader.QueueFullWaitNs,
  "excel rows: scan waited for the task (write-bound)")
