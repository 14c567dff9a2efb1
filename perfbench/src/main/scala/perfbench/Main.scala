package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ExcelToParquet, GraftSession, SparkEntry}
import graft.queries.QueryDef
import graft.sources.excel.{ExcelRead, WorkbookSource}

/** The benchmark harness inside the JVM: builds the session, runs one
  * workload as a closed loop with one client, checks every op's output
  * and writes raw samples (and, when traced, spans and per-layer counters)
  * to a JSON file. Statistics are computed by the caller (run.py).
  *
  * Arguments are key=value: workload, seed, seconds, trace (0|1), data
  * (generated tables), work (scratch dir), out (result file), cores.
  */
object Main {

  /** Non-serve bench entries timed by `analytics`: a SQL join, a wide
    * decimal aggregate, a window rank, a text pipeline, LSH, an iterative graph
    * algorithm, vector assignment and a transformWithState stream.
    */
  val analytics: Seq[String] = Seq("q05_sql_tpch_q3", "q08_agg_tpch_q1", "q11_window_rank",
    "q43_pipeline_e2e", "q23_minhash_lsh", "q38_pagerank", "q45_centroid_assign",
    "q20_stream_tws_stats")

  /** Rows of the dense convert sheet (10 columns, so 2M cells). */
  val denseRows = 200000

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val run = new Run(conf("workload"), conf("seed").toLong, conf("seconds").toDouble,
      conf("trace") == "1", conf("data"), conf("work"), conf("cores").toInt)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(conf("out")), json.writeValueAsString(run()))
  }
}

/** What one op produced: its checked outcome, the wall time of the op
  * itself (checks excluded) and, when traced, its per-layer values.
  */
final case class Result(ok: Boolean, wall: Double, err: String = null, fp: String = null,
    layers: Map[String, Any] = Map.empty)

/** Order-free fingerprint of a DataFrame's rows, computed by an observed
  * aggregate in the same pass that materializes it. Floating values are
  * rounded to 6 decimals so summation order cannot change it.
  */
object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType => struct(st.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt))))))
    case _ => c
  }

  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.map(f => canon(df.col(s"`${f.name.replace("`", "``")}`"), f.dataType))
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("hash"))
  }

  def render(obs: Observation): String = {
    val m = obs.get
    s"${m("rows")}:${m("hash")}"
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, cores: Int) {

  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val setup = mutable.LinkedHashMap.empty[String, Any]
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var opSeq = 0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, secs(t0)) }
  private def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def apply(): Map[String, Any] = {
    System.setProperty("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    // set-up as a user's process pays it: a cold session build
    val (session, sessionS) = timed(GraftSession.local(cores))
    spark = session
    setup("session_s") = sessionS
    if (trace) {
      tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tracer)
      PlanListener.tracer = tracer
    }
    val w = workload match {
      case "convert" => new ConvertOps
      case "analytics" => new QueryOps(Main.analytics)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the first pass in a fresh process is untimed warm-up for the loop
    // (and its own cold metric); its ops are the ones fully checked
    val (_, warm) = timed(w.pass(0).foreach(n =>
      op("cold", 0, n, w.run(n, _, check = true, traced = false))))
    setup("warmup_s") = warm
    // closed loop, one client: whole passes until the budget is spent. A
    // traced run alternates untraced and traced passes (at least untraced,
    // traced, untraced, so JIT drift between passes cancels), and the
    // tracing overhead is measured within one process.
    val t0 = System.nanoTime()
    var p = 1
    while (secs(t0) < seconds || (trace && p <= 3)) {
      val traced = trace && p % 2 == 0
      w.pass(p).foreach(n => op("timed", p, n, w.run(n, _, check = false, traced)))
      p += 1
    }
    Map("workload" -> workload, "seed" -> seed, "cores" -> cores, "setup" -> setup,
      "records" -> records, "retained_storage_mb" -> retainedMb(), "extra" -> w.extra,
      "spans" -> Option(tracer).map(_.spans.map(_.toMap)).getOrElse(Nil))
  }

  /** Runs and records one op; a throw is a failed op, not an abort. */
  private def op(kind: String, pass: Int, name: String, body: Int => Result): Unit = {
    opSeq += 1
    val id = opSeq
    val t0 = System.nanoTime()
    val r =
      try body(id)
      catch {
        case NonFatal(e) =>
          Result(ok = false, wall = secs(t0), err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    records += Map("id" -> id, "kind" -> kind, "pass" -> pass, "name" -> name,
      "traced" -> r.layers.nonEmpty, "wall_s" -> r.wall, "ok" -> r.ok, "err" -> r.err,
      "fp" -> r.fp, "layers" -> r.layers)
  }

  /** Spark storage (memory + disk) still held once the cleaner has had a
    * chance to release what the finished ops no longer reference.
    */
  private def retainedMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(700) }
    pinnedMb
  }

  /** Spark counters summed over the given phases of op `id`. */
  private def execLayers(id: Int, phases: Seq[String]): Map[String, Any] = {
    val cs = phases.map(p => tracer.counters(s"op$id/$p"))
    def sum(f: Counters => Long): Long = cs.map(f).sum
    val widest = cs.maxBy(_.planNodes)
    Map(
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages), "exec.tasks" -> sum(_.tasks),
      "exec.run_s" -> sum(_.runMs) / 1e3, "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.gc_s" -> sum(_.gcMs) / 1e3,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.peak_mem_mb" -> cs.map(_.peakMem).max / 1e6,
      "plans.nodes" -> widest.planNodes, "plans.exchanges" -> widest.planExchanges,
      "storage.materialized_mb" -> sum(_.materialized) / 1e6,
      "storage.released_mb" -> sum(_.released) / 1e6,
      "storage.pinned_mb" -> pinnedMb,
      "streaming.triggers" -> sum(_.triggers),
      "streaming.trigger_ms" -> cs.flatMap(_.triggerMs),
      "streaming.state_rows" -> cs.map(_.stateRows).max,
      "streaming.state_mem_mb" -> cs.map(_.stateMem).max / 1e6)
  }

  /** Op span and the summed length of its direct children. */
  private def coverLayers(opSpan: Span): Map[String, Any] =
    Map("trace.op_span_s" -> opSpan.seconds,
      "trace.child_span_s" -> tracer.spansOf(opSpan.op).filter(_.parent == opSpan.id).map(_.seconds).sum)

  private trait Ops {
    def pass(p: Int): Seq[String]
    def run(name: String, id: Int, check: Boolean, traced: Boolean): Result
    def extra: Map[String, Any]
  }

  private def shuffled[A](p: Int, xs: Seq[A]): Seq[A] = new scala.util.Random(seed * 7919 + p).shuffle(xs)

  /** Analytics: an op is `QueryDef.run` plus materializing every output
    * column into the `noop` sink (no `count()` pruning). The cold-pass op
    * of each query writes its output as one Parquet file for the oracle
    * compare instead. Every op carries a fingerprint of its output; the
    * caller checks that all ops of one query agree.
    */
  private final class QueryOps(list: Seq[String]) extends Ops {
    private val defs: Map[String, QueryDef] = SparkEntry.registry.map(q => q.name -> q).toMap
    private val checked = mutable.LinkedHashMap.empty[String, String]
    def pass(p: Int): Seq[String] = shuffled(p, list)

    def extra: Map[String, Any] = Map("oracle" -> checked.map { case (n, dir) =>
      Map("name" -> n, "dir" -> dir, "sql" -> defs(n).oracle.orNull)
    })

    def run(name: String, id: Int, check: Boolean, traced: Boolean): Result = {
      val q = defs(name)
      val obs = Observation()
      def materialize(df: DataFrame): Unit = {
        val observed = Fingerprint.observe(df, obs)
        if (check) {
          val dir = s"$work/check/$name"
          observed.coalesce(1).write.mode("overwrite").parquet(dir)
          checked(name) = dir
        } else observed.write.format("noop").mode("overwrite").save()
      }
      if (!traced) {
        val (_, wall) = timed(materialize(q.run(spark, data)))
        Result(ok = true, wall = wall, fp = Fingerprint.render(obs))
      } else {
        val ((plan, exec), opSpan) = tracer.span(name, 0, id) { sid =>
          val (df, plan) = tracer.phase("queries.plan", sid, id, s"op$id/plan")(q.run(spark, data))
          val (_, exec) = tracer.phase("exec", sid, id, s"op$id/exec")(materialize(df))
          (plan, exec)
        }
        tracer.settle()
        val layers = execLayers(id, Seq("plan", "exec")) ++ coverLayers(opSpan) ++ Map(
          "queries.plan_s" -> plan.seconds,
          "queries.plan_jobs" -> tracer.counters(s"op$id/plan").jobs,
          "exec.wall_s" -> exec.seconds,
          "trace.op_s" -> opSpan.seconds)
        Result(ok = true, wall = opSpan.seconds, fp = Fingerprint.render(obs), layers = layers)
      }
    }
  }

  /** Convert: an op is one `ExcelToParquet.convert` call with default
    * options. Cold-pass outputs are read back and checked against the
    * corpus's expected header, row count and cell checksum; every later
    * op's read-back row count is checked. A traced op
    * instead runs the pipeline's growing prefixes one after another
    * (inflate, scan, rows, DSv2, full convert, read-back); the caller
    * derives each layer's self time from successive prefixes.
    */
  private final class ConvertOps extends Ops {
    private val (items, genS) = timed(
      Corpus.generate(s"$work/corpus", seed, cores, Main.denseRows).map(i => i.name -> i).toMap)
    def pass(p: Int): Seq[String] = shuffled(p, items.keys.toSeq.sorted)

    def extra: Map[String, Any] = Map("corpus_gen_s" -> genS,
      "corpus" -> items.values.toSeq.sortBy(_.name).map(i => Map("name" -> i.name,
        "cells" -> i.cells, "input_bytes" -> new File(i.input).length)))

    def run(name: String, id: Int, check: Boolean, traced: Boolean): Result = {
      val it = items(name)
      val out = s"$work/out/$name"
      val opts = ExcelToParquet.Options(it.input, out, it.sheetName, it.sheetIndex, it.skipRows,
        sheetPartitions = it.sheetPartitions)
      if (!traced) {
        val (rows, wall) = timed(ExcelToParquet.convert(spark, opts))
        if (check) verify(it, out, wall, Map.empty) else counted(it, rows, wall, Map.empty)
      } else {
        val ((prefix, converted, fullS), opSpan) = tracer.span(name, 0, id) { sid =>
          def ph[A](n: String)(f: => A): (A, Span) = tracer.phase(n, sid, id, s"op$id/$n")(f)
          val ro = ExcelRead.Options(it.input, it.sheetName, it.sheetIndex, it.skipRows)
          val (inflated, inflate) = ph("excel.inflate")(drainEntry(ro))
          val ((cells, alloc), scan) = ph("excel.scan")(drainCells(ro))
          val (_, rows) = ph("excel.rows")(drainRows(ro))
          var plan: Span = null
          val (_, dsv2) = ph("excel.dsv2") {
            val (df, p) = tracer.span("excel.plan", sid, id)(_ => ExcelToParquet.read(spark, opts))
            plan = p
            df.write.format("noop").mode("overwrite").save()
          }
          val (converted, full) = ph("convert.full")(ExcelToParquet.convert(spark, opts))
          val (_, readback) = ph("convert.readback")(spark.read.parquet(out).count())
          (Map("prefix.inflate_s" -> inflate.seconds, "prefix.scan_s" -> scan.seconds,
            "prefix.rows_s" -> rows.seconds, "prefix.dsv2_s" -> dsv2.seconds,
            "prefix.full_s" -> full.seconds, "prefix.readback_s" -> readback.seconds,
            "excel.plan_s" -> plan.seconds, "excel.inflate_bytes" -> inflated,
            "excel.scan_cells" -> cells, "excel.scan_alloc_b" -> alloc,
            "trace.op_s" -> full.seconds), converted, full.seconds)
        }
        tracer.settle()
        val files = partFiles(out)
        val layers = prefix ++ execLayers(id, Seq("convert.full")) ++ coverLayers(opSpan) ++ Map(
          "convert.out_bytes" -> files.map(_.length).sum,
          "convert.row_groups" -> files.map(rowGroups).sum,
          "convert.cells" -> it.cells,
          "excel.split_tasks" -> tracer.counters(s"op$id/excel.dsv2").tasks)
        counted(it, converted, fullS, layers)
      }
    }

    private def drainEntry(ro: ExcelRead.Options): Long = {
      val wb = WorkbookSource.open(ro.path)
      val target = try wb.resolveSheet(ro.sheetName, ro.sheetIndex).target finally wb.close()
      val zip = new java.util.zip.ZipFile(ro.path)
      try {
        val in = zip.getInputStream(zip.getEntry(target))
        val buf = new Array[Byte](1 << 16)
        var n = 0L
        var k = in.read(buf)
        while (k >= 0) { n += k; k = in.read(buf) }
        n
      } finally zip.close()
    }

    /** Drains the scan cell stream; allocation is counted on this thread
      * with the ThreadMXBean method MicroProf's q02alloc uses.
      */
    private def drainCells(ro: ExcelRead.Options): (Long, Long) = {
      val tmx = java.lang.management.ManagementFactory.getThreadMXBean
        .asInstanceOf[com.sun.management.ThreadMXBean]
      val tid = Thread.currentThread().getId
      val wb = WorkbookSource.open(ro.path)
      try {
        val it = wb.cellsForScan(wb.resolveSheet(ro.sheetName, ro.sheetIndex).target)
        val a0 = tmx.getThreadAllocatedBytes(tid)
        var n = 0L
        try while (it.hasNext) { it.next(); n += 1 } finally it.close()
        (n, tmx.getThreadAllocatedBytes(tid) - a0)
      } finally wb.close()
    }

    private def drainRows(ro: ExcelRead.Options): Long = {
      val lay = ExcelRead.layout(ro)
      val it = ExcelRead.rows(ro, lay, Array.tabulate(lay.numCols)(identity), lay.numCols)
      var n = 0L
      try while (it.hasNext) { it.next(); n += 1 } finally it.close()
      n
    }

    private def partFiles(out: String): Seq[File] =
      Option(new File(out).listFiles).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)

    private def rowGroups(f: File): Int = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }

    /** The row count `convert` read back, against the expected count. */
    private def counted(it: Corpus.Item, rows: Long, wall: Double, layers: Map[String, Any]): Result =
      if (rows == it.rows) Result(ok = true, wall = wall, layers = layers)
      else Result(ok = false, wall = wall, err = s"$rows rows, expected ${it.rows}", layers = layers)

    /** Reads the part files back in name (= row) order and compares. */
    private def verify(it: Corpus.Item, out: String, wall: Double, layers: Map[String, Any]): Result = {
      val sum = new Corpus.Checksum
      var rows = 0L
      val files = partFiles(out)
      val header = files.headOption.map(f => spark.read.parquet(f.getPath).columns.toSeq)
      files.foreach { f =>
        spark.read.parquet(f.getPath).collect().foreach { r =>
          (0 until r.length).foreach(i => sum.cell(r.getString(i)))
          sum.endRow()
          rows += 1
        }
      }
      val err =
        if (!header.contains(it.header)) s"header $header, expected ${it.header}"
        else if (rows != it.rows) s"$rows rows, expected ${it.rows}"
        else if (sum.value != it.checksum) "cell checksum differs"
        else null
      Result(ok = err == null, wall = wall, err = err, layers = layers)
    }
  }
}
