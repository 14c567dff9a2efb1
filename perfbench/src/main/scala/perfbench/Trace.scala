package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval: name, wall-clock bounds, causing span and op id. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def toMap: Map[String, Any] =
    Map("id" -> id, "name" -> name, "parent" -> parent, "op" -> op,
      "start_s" -> startNs / 1e9, "end_s" -> endNs / 1e9)
}

/** Counters for one phase of one op, filled from Spark listener events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakMem = 0L
  var materialized, released = 0L
  var triggers = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  var stateRows, stateMem = 0L
  var planNodes, planExchanges = 0L
}

/** Spans kept in memory plus a listener that attributes Spark work to the
  * phase that caused it. Every phase runs under its own job group; a job
  * from a thread that sets its own group (a streaming micro-batch) goes to
  * the phase that had started last when the job was submitted. Events
  * without a time (block updates, plans, stream progress) go to the
  * current phase; `settle` after each op, outside its spans, makes sure
  * they have all arrived before the next op starts.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val phases = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val blockSize = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var current: String = null
  private var nextId = 0

  def counters(key: String): Counters = phases.computeIfAbsent(key, _ => new Counters)

  private val starts = new java.util.concurrent.ConcurrentSkipListMap[java.lang.Long, String]()

  private def keyOf(props: java.util.Properties, timeMs: Long): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(phases.containsKey(_))
      .orElse(Option(starts.floorEntry(timeMs)).map(_.getValue))
      .getOrElse(current)

  /** Runs `f` as span `name` under phase key `key` (its job group). */
  def phase[A](name: String, parent: Int, op: Int, key: String)(f: => A): (A, Span) = {
    counters(key)
    starts.put(System.currentTimeMillis(), key)
    current = key
    sc.setJobGroup(key, name)
    try span(name, parent, op)(_ => f)
    finally sc.clearJobGroup()
  }

  /** Waits until every event posted so far has reached the listener. */
  def settle(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Runs `f` (given its own span id) as span `name`. */
  def span[A](name: String, parent: Int, op: Int)(f: Int => A): (A, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    val a = f(id)
    val s = Span(id, name, parent, op, t0, System.nanoTime())
    synchronized(spans += s)
    (a, s)
  }

  private def at(key: String)(f: Counters => Unit): Unit =
    if (key != null) { val c = counters(key); c.synchronized(f(c)) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties, e.time)
    e.stageInfos.foreach(s => if (key != null) stageKey.put(s.stageId, key))
    at(key)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = keyOf(e.properties, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    if (key != null) stageKey.putIfAbsent(e.stageInfo.stageId, key)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    at(stageKey.get(e.stageInfo.stageId))(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) at(stageKey.get(e.stageId)) { c =>
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val size = info.memSize + info.diskSize
    if (info.storageLevel.isValid) {
      val before = Option(blockSize.put(id, size)).map(_.longValue).getOrElse(0L)
      at(current)(_.materialized += math.max(0L, size - before))
    } else {
      val before = Option(blockSize.remove(id)).map(_.longValue).getOrElse(0L)
      at(current)(_.released += before)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => at(current) { c =>
      c.triggers += 1
      Option(p.progress.durationMs.get("triggerExecution")).foreach(ms => c.triggerMs += ms.doubleValue)
      c.stateRows = math.max(c.stateRows, p.progress.stateOperators.map(_.numRowsTotal).sum)
      c.stateMem = math.max(c.stateMem, p.progress.stateOperators.map(_.memoryUsedBytes).sum)
    }
    case _ =>
  }

  /** Keeps the largest executed plan finished in the current phase. */
  def plan(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
    val (nodes, exchanges) = PlanShape(qe.executedPlan)
    at(current) { c =>
      if (nodes > c.planNodes) { c.planNodes = nodes; c.planExchanges = exchanges }
    }
  }

  def spansOf(op: Int): Seq[Span] = synchronized(spans.filter(_.op == op).toSeq)
}

/** Node and exchange counts of an executed plan, through AQE stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Long, Long) = {
    var nodes, exchanges = 0L
    foreach(plan) {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec =>
      case p =>
        nodes += 1
        p match {
          case _: Exchange | _: ReusedExchangeExec => exchanges += 1
          case _ =>
        }
    }
    (nodes, exchanges)
  }
}

/** Forwards finished query executions of every session, child sessions
  * included, to the active tracer. Installed through
  * `spark.sql.queryExecutionListeners`, so each session builds its own.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = Option(PlanListener.tracer).foreach(_.plan(qe))
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()
}

object PlanListener {
  @volatile var tracer: Tracer = null
}
