package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One completed op: `rows` is the op's row count for `rows_per_s`
  * (input-table rows read, or event rows landed). */
final case class OpRec(name: String, start: Long, end: Long, ok: Boolean,
                       rows: Long, traced: Boolean) {
  def seconds: Double = (end - start) / 1e9
}

/** A workload: set-up, one op at a time, then untimed checks. */
trait Workload {
  /** Untimed-by-op set-up (counted in `setup_s`): inputs, warm-up. */
  def setup(): Unit
  /** Ops per round; a run measures whole rounds, so every run does the
    * same mix of ops. */
  def unit: Int
  /** Whether the inputs have an op `i`. */
  def hasOp(i: Int): Boolean
  /** Run op `i`; returns (name, ok, rows). Ops of a kind share a name. */
  def op(i: Int): (String, Boolean, Long)
  /** Untimed output checks after the measured phase: indices of ops
    * whose output is wrong, plus messages. */
  def check(ops: Seq[OpRec]): (Set[Int], Seq[String])
  /** (on-disk bytes of the workload's lake/state roots, input rows). */
  def stored(): (Long, Long)
  /** Workload-specific per-layer metrics of the traced ops. */
  def layerMetrics(ops: Seq[OpRec], t: Tracer): Map[String, Double]
}

object Harness {
  /** Order-insensitive checksum of a result: its column names, and the
    * (rows, sum, xor) of a per-row xxhash64 over a canonical form of the
    * row (see [[canon]]). */
  final case class Sum(columns: Seq[String], rows: Long, sum: Long, xor: Long)

  /** Engine-neutral value form, so a Spark result and the DuckDB oracle's
    * result hash alike: every number as a float (float precision also
    * absorbs the summation-order noise of parallel aggregates), times as
    * epoch micros, booleans as ints, arrays and structs element-wise. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case _: NumericType => c.cast(FloatType)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c)
    case BooleanType => c.cast(IntegerType)
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The checksum sink: executes the whole plan once (as the noop sink
    * would) and folds every output row into a [[Sum]]. Columns are taken
    * in name order, as the oracle compare does. */
  def checksum(df: DataFrame): Sum = {
    val names = df.columns.toIndexedSeq
    val renamed = df.toDF(names.indices.map(i => s"c$i"): _*)
    val types = renamed.schema.fields.map(_.dataType)
    val order = names.indices.sortBy(names)
    val hashed = renamed.select(xxhash64(order.map(i => canon(col(s"c$i"), types(i))): _*).as("h"))
    val qe = hashed.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("checksum")) {
      qe.toRdd.mapPartitions { it =>
        var n, s, x = 0L
        it.foreach { r => val h = r.getLong(0); n += 1; s += h; x ^= h }
        Iterator((n, s, x))
      }.collect().foldLeft(Sum(order.map(names), 0, 0, 0)) { case (a, (n, s, x)) =>
        a.copy(rows = a.rows + n, sum = a.sum + s, xor = a.xor ^ x)
      }
    }
  }

  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def filesUnder(f: File, pred: File => Boolean): Seq[File] =
    if (f.isFile) (if (pred(f)) Seq(f) else Nil)
    else Option(f.listFiles()).toSeq.flatten.flatMap(filesUnder(_, pred))

  def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of [start, end) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, cur = 0L
    var open = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > cur || open == Long.MinValue) {
          if (open != Long.MinValue) total += cur - open
          open = a; cur = b
        } else cur = math.max(cur, b)
      }
    if (open != Long.MinValue) total += cur - open
    total
  }

  object Json {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  }

  /** Source file name → graft module (package directory), from the
    * checkout's own source tree. */
  def moduleMap(srcRoot: File): Map[String, String] = {
    val base = new File(srcRoot, "graft")
    val top = Option(base.listFiles()).toSeq.flatten
    top.filter(_.isFile).map(_.getName -> "graft").toMap ++
      top.filter(_.isDirectory).flatMap(d =>
        filesUnder(d, _.getName.endsWith(".scala")).map(_.getName -> d.getName)).toMap
  }

  /** Per-layer metrics every workload shares, over the traced ops. */
  def commonLayers(ops: Seq[OpRec], t: Tracer, modules: Map[String, String],
                   rowsOut: Long): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val roots = t.spans.filter(_.parent < 0)
    val rootOf = t.spans.map(s => s.id -> s.root).toMap
    val rootIds = roots.map(_.id).toSet
    val js = t.jobs.values.filter(j => j.span >= 0 && rootIds(rootOf(j.span))).toSeq
    val byRoot = js.groupBy(j => rootOf(j.span))
    def sumL(f: JobRec => Long) = js.map(f).sum.toDouble
    val qs = t.qes.filter(q => rootOf.get(q.span).exists(rootIds))
    val jobWall = (j: JobRec) => math.max(0L, j.end - j.start) / 1e3
    // wall of an op with no task of its jobs running
    val driverOnly = roots.map { r =>
      val iv = byRoot.getOrElse(r.id, Nil).flatMap(_.taskIntervals)
      (r.end - r.start) / 1e6 - covered(iv, Long.MinValue / 4, Long.MaxValue / 4)
    }.sum / 1e3
    // self time: span duration minus the union of its children
    val kids = t.spans.toSeq.groupBy(_.parent)
    val self = t.spans.filter(s => rootIds(s.root)).map { s =>
      val c = kids.getOrElse(s.id, Seq.empty[Span]).map(k => (k.start, k.end))
      s.layer -> ((s.end - s.start) - covered(c, s.start, s.end)) / 1e9
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum / n).toMap
    // a job's module is the graft source file of its call site; jobs of
    // adaptive query stages run from a pool thread and take the innermost
    // graft frame of their SQL execution's call site
    val benchFiles = Set("Workloads.scala", "Harness.scala", "Main.scala")
    def moduleOfFile(f: String) = modules.get(f).orElse(if (benchFiles(f)) Some("bench") else None)
    val execModule = t.execs.values.map(x => x.id -> x.files.flatMap(moduleOfFile).headOption).toMap
    val moduleOf = (j: JobRec) => moduleOfFile(j.site.split(" at ").last.takeWhile(_ != ':'))
      .orElse(execModule.get(j.execId).flatten).getOrElse("other")
    val byModule = js.groupBy(moduleOf).view.mapValues(_.map(jobWall).sum / n).toMap
    val writeQes = qs.filter(_.write)
    // write calls: wall of each root write execution, and the part of it
    // no job of that execution covers (planning, file commit)
    val execsIn = t.execs.values.filter(x => rootIds(rootOf.getOrElse(x.span, -1))).toSeq
    val writes = execsIn.filter(x => x.write && x.root == x.id && x.end >= x.start)
    val writeS = writes.map(x => (x.end - x.start) / 1e3).sum
    val commit = writes.map { x =>
      val ids = execsIn.filter(_.root == x.id).map(_.id).toSet + x.id
      val iv = js.filter(j => ids(j.execId)).map(j => (j.start, j.end))
      ((x.end - x.start) - covered(iv, x.start, x.end)) / 1e3
    }.sum
    val childCover = roots.map { r =>
      covered(kids.getOrElse(r.id, Seq.empty[Span]).map(k => (k.start, k.end)), r.start, r.end)
    }.sum.toDouble / math.max(1L, roots.map(r => r.end - r.start).sum)
    val layerNames = Seq("bench", "queries", "exec", "streaming", "lake",
      "materialize")
    val moduleNames = Seq("graft", "queries", "functions", "expressions",
      "lake", "streaming", "transforms", "materialize", "state",
      "bench", "other")
    Map(
      "catalyst.analysis_s" -> qs.map(_.analysisMs).sum / 1e3 / n,
      "catalyst.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3 / n,
      "catalyst.planning_s" -> qs.map(_.planningMs).sum / 1e3 / n,
      "exec.task_run_s" -> sumL(_.runMs) / 1e3 / n,
      "exec.task_cpu_s" -> sumL(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> sumL(_.gcMs) / 1e3 / n,
      "exec.input_bytes" -> sumL(_.inBytes) / n,
      "exec.input_records" -> sumL(_.inRecs) / n,
      "exec.records_read_per_row_out" -> sumL(_.inRecs) / math.max(1L, rowsOut),
      "shuffle.write_bytes" -> sumL(_.shWrite) / n,
      "shuffle.read_bytes" -> sumL(_.shRead) / n,
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1e3 / n,
      "shuffle.spill_bytes" -> sumL(_.spill) / n,
      "scheduler.jobs" -> js.size / n,
      "scheduler.stages" -> sumL(_.stages) / n,
      "scheduler.tasks" -> sumL(_.tasks) / n,
      "scheduler.task_delay_s" -> sumL(_.delayMs) / 1e3 / n,
      "scheduler.driver_only_s" -> driverOnly / n,
      "scheduler.failed_tasks" -> sumL(_.failedTasks),
      "lake.write_s" -> writeS / n,
      "lake.commit_s" -> commit / n,
      "lake.files_per_tick" -> writeQes.map(_.writeFiles).sum / n,
      "lake.bytes_written" -> writeQes.map(_.writeBytes).sum / n,
      "bench.child_span_coverage" -> childCover
    ) ++ layerNames.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)) ++
      moduleNames.map(m => s"module.$m.job_s" -> byModule.getOrElse(m, 0.0))
  }
}
