package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.materialize.{GateSource, Model, ModelRunner}
import graft.state.StateStore
import graft.streaming.{Capture, CaptureConfig, Recapture}
import perfbench.Harness._

/** Analysts' read path: the query mix in a seeded order per round, each
  * query executed through the checksum sink and compared with the
  * checksum of its DuckDB oracle result (written to `<work>/oracle`
  * before this JVM starts). Only whole rounds are measured, so every
  * query weighs the same in every run. */
final class LakeQueries(spark: SparkSession, data: String, work: File,
                        seed: Long, t: Tracer) extends Workload {
  private val queries = graft.SparkEntry.queries
  val names: Seq[String] = LakeQueries.mix
  private val golden = mutable.Map.empty[String, Sum]
  private val inputRows = mutable.Map.empty[String, Long]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var order: Seq[String] = Nil
  private val sizes: Map[String, Long] = readRowCounts(new File(data, "sizes.json"))

  def setup(): Unit = names.foreach { n =>
    golden(n) = checksum(spark.read.parquet(s"$work/oracle/$n.parquet"))
    // the warm-up pass runs every query once through the measured sink
    val df = queries(n)(spark, data)
    val s = checksum(df)
    if (s != golden(n)) mismatches += s"$n: result $s != oracle ${golden(n)}"
    inputRows(n) = df.inputFiles.map(f => new File(f).getName.stripSuffix(".parquet"))
      .distinct.map(sizes.getOrElse(_, 0L)).sum
  }

  def op(i: Int): (String, Boolean, Long) = {
    if (i % names.size == 0)
      order = new scala.util.Random(seed * 1000003L + i / names.size).shuffle(names)
    val n = order(i % names.size)
    val df = t.span(s"build $n", "queries")(queries(n)(spark, data))
    val s = t.span(s"run $n", "exec")(checksum(df))
    (n, s == golden(n), inputRows(n))
  }

  def unit: Int = names.size
  def hasOp(i: Int): Boolean = true

  def check(ops: Seq[OpRec]): (Set[Int], Seq[String]) =
    (Set.empty, mismatches.toSeq)

  def stored(): (Long, Long) = {
    val tables = Option(new File(data).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    (tables.map(_.length).sum, tables.map(f => sizes.getOrElse(f.getName.stripSuffix(".parquet"), 0L)).sum)
  }

  def layerMetrics(ops: Seq[OpRec], t: Tracer): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.ok)
    val build = t.spans.filter(_.layer == "queries").map(s => (s.end - s.start) / 1e9)
    Map("queries.build_s" -> medianOf(build.toSeq)) ++ names.map { n =>
      s"queries.$n.p50_s" -> medianOf(traced.filter(_.name == n).map(_.seconds))
    }
  }

  private def readRowCounts(f: File): Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val it = m.fields()
    val out = mutable.Map.empty[String, Long]
    while (it.hasNext) { val e = it.next(); out(e.getKey) = e.getValue.get(0).asLong() }
    out.toMap
  }
}

object LakeQueries {

  /** One headline query per operator family (`graft.Bench.headline`):
    * scan+agg, as-of join (custom plan), JSON, MinHash, near-dup dedup,
    * substring dedup, vector top-k and a text rule scan. */
  val mix: Seq[String] = Seq("q1_pricing_summary", "q65_asof_join",
    "q47_json_extract", "q51_minhash_sig", "q59_neardup_dedup",
    "q113_substring_dedup", "q60_knn_bruteforce", "q137_gopher_rules")
}

/** The SMTR minute loop. Op m captures minute m (or logs a failed fetch
  * for a withheld minute); minute 6 of every 10-minute cycle runs the
  * recapture backfill and its last minute the gated model. */
final class CaptureTicks(spark: SparkSession, data: String, work: File,
                         t: Tracer) extends Workload {
  import spark.implicits._
  private val base = Timestamp.valueOf("2024-02-01 00:00:00")
  private def minute(m: Int) = new Timestamp(base.getTime + m * 60000L)
  private def minuteOf(ts: Timestamp): Int = ((ts.getTime - base.getTime) / 60000L).toInt
  private val ds = "pb"
  private val table = "events"
  private var events: DataFrame = _
  private var withheld: Set[Int] = Set.empty
  private var minutes = 0
  private val root = new File(work, "capture")
  private var lake: Lake = _
  private var log: CaptureLog = _
  private var cap: Capture = _
  private var runner: ModelRunner = _
  private var state: StateStore = _
  private val recovered = mutable.Set.empty[Int]
  private var modelRuns, modelSkips = 0
  private var rowsLanded = 0L

  val model: Model = Model("per_minute",
    """SELECT date_trunc('minute', timestamp_captura) AS ts,
      |  count(*) AS n_rows, count(DISTINCT event_id) AS n_events,
      |  date_format(timestamp_captura, 'yyyy-MM-dd') AS data,
      |  date_format(timestamp_captura, 'HH-mm') AS hm
      |FROM src_staging
      |WHERE timestamp_captura > to_timestamp('{{date_range_start}}')
      |  AND timestamp_captura <= to_timestamp('{{date_range_end}}')
      |GROUP BY 1, 4, 5""".stripMargin, partitionBy = Seq("data", "hm"))

  // each minute's payload is held on the driver, as a fetched API response is
  private var payload: Map[Int, java.util.List[Row]] = Map.empty
  private def batch(m: Int): DataFrame =
    spark.createDataFrame(payload.getOrElse(m, java.util.List.of[Row]()), events.drop("minute").schema)

  private def open(root: File): Unit = {
    lake = new Lake(spark, new File(root, "lake").toString)
    log = new CaptureLog(spark, lake)
    cap = new Capture(spark, lake, log, CaptureConfig(ds, table, pk = Seq("event_id"), tsCol = "ts"))
    state = new StateStore(spark, new File(root, "state").toString)
    runner = new ModelRunner(spark, lake, state, ds)
    // a prior day of successful minutes, so the gate blocks only on
    // the minutes this run withholds
    val startSec = (base.getTime / 1000 - 86400) / 60 * 60
    lake.append(spark.range(1).select(explode(sequence(timestamp_seconds(lit(startSec)),
        lit(minute(-1)), expr("INTERVAL 1 MINUTES"))).as("timestamp_captura"))
      .withColumn("sucesso", lit(true)).withColumn("erro", lit(null).cast("string"))
      .withColumn("data", date_format($"timestamp_captura", "yyyy-MM-dd")),
      log.ref(ds, table), partitionBy = Seq("data"))
  }

  private def refreshView(): Unit =
    lake.read(TableRef("staging", ds, table)).createOrReplaceTempView("src_staging")

  def setup(): Unit = {
    events = graft.Tables.load(spark, data, "capture_events")
    val ms = spark.read.parquet(s"$data/capture_minutes.parquet").collect()
    minutes = ms.length
    withheld = ms.filter(_.getBoolean(1)).map(_.getInt(0)).toSet
    payload = events.collect().groupBy(_.getAs[Int]("minute")).map { case (m, rows) =>
      m -> java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq.dropRight(1))): _*)
    }
    // warm-up on a throwaway root: captures, a failed fetch, a backfill
    // and a model run, until the JIT has settled on every code path
    val warm = new File(work, "capture_warm")
    try {
      open(warm)
      (0 until CaptureTicks.warmMinutes).foreach(m => cap.processBatch(batch(-1), minute(m)))
      val m = CaptureTicks.warmMinutes
      log.append(ds, table, minute(m), success = false, error = Some("fetch failed"))
      Recapture.backfill(spark, cap, log.read(ds, table), minute(m), fetch = _ => batch(-1))
      refreshView()
      runner.runGated(model, minute(m), log, Seq(GateSource(ds, table)))
    } finally deleteRecursively(warm)
    open(root)
  }

  def op(m: Int): (String, Boolean, Long) = {
    var rows = 0L
    if (withheld(m))
      t.span("CaptureLog.append", "lake")(
        log.append(ds, table, minute(m), success = false, error = Some("fetch failed")))
    else {
      val b = batch(m)
      t.span("Capture.processBatch", "streaming")(cap.processBatch(b, minute(m)))
      rows += batchSize(m)
    }
    val kind = m % CaptureTicks.cycle match {
      case c if c == CaptureTicks.cycle - 1 => "model minute"
      case CaptureTicks.backfillAt => "backfill minute"
      case _ => if (withheld(m)) "withheld minute" else "minute"
    }
    if (m % CaptureTicks.cycle == CaptureTicks.backfillAt) {
      val p = t.span("Recapture.backfill", "streaming")(Recapture.backfill(spark, cap,
        log.read(ds, table), minute(m), fetch = ts => batch(minuteOf(ts))))
      p.timestamps.map(minuteOf).foreach { mm =>
        recovered += mm
        rows += batchSize(mm)
      }
    }
    if (m % CaptureTicks.cycle == CaptureTicks.cycle - 1) {
      t.span("Lake.read", "lake")(refreshView())
      val out = t.span("ModelRunner.runGated", "materialize")(
        runner.runGated(model, minute(m), log, Seq(GateSource(ds, table))))
      if (out.isDefined) modelRuns += 1 else modelSkips += 1
    }
    rowsLanded += rows
    (kind, true, rows)
  }

  private def batchSize(m: Int): Long = payload.get(m).map(_.size.toLong).getOrElse(0L)

  /** A round is one 10-minute cycle (one gated model run). */
  def unit: Int = CaptureTicks.cycle
  def hasOp(i: Int): Boolean = i < minutes

  /** Staging keys per minute equal the generated batch; the log holds one
    * success row per landed minute, marked `[recapturado]` when it was
    * recovered; the model output equals its SQL over all of staging. */
  def check(ops: Seq[OpRec]): (Set[Int], Seq[String]) = {
    val msgs = mutable.ArrayBuffer.empty[String]
    val landed = (0 until ops.size).filter(m => !withheld(m) || recovered(m)).toSet
    val staged = lake.read(TableRef("staging", ds, table))
      .select($"event_id", $"timestamp_captura").as[(Long, Timestamp)].collect()
      .groupBy(r => minuteOf(r._2)).view.mapValues(_.map(_._1).toSeq.sorted).toMap
    val expected = events.filter($"minute" >= 0 && $"minute" < ops.size)
      .select($"minute", $"event_id").as[(Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val bad = mutable.Set.empty[Int]
    (staged.keySet ++ landed).foreach { m =>
      val want = if (landed(m)) expected.getOrElse(m, Nil) else Nil
      if (staged.getOrElse(m, Nil) != want) {
        bad += math.max(0, math.min(m, ops.size - 1))
        msgs += s"minute $m: staging keys differ from the generated batch"
      }
    }
    val logRows = log.read(ds, table).filter($"timestamp_captura" >= base)
      .select($"timestamp_captura", $"sucesso", $"erro").collect()
    val ok = logRows.filter(_.getBoolean(1)).groupBy(r => minuteOf(r.getTimestamp(0)))
    (0 until ops.size).foreach { m =>
      val rows = ok.getOrElse(m, Array.empty[Row])
      val want = if (landed(m)) 1 else 0
      val mark = if (withheld(m)) "[recapturado]" else null
      if (rows.length != want || rows.exists(_.getString(2) != mark)) {
        bad += m
        msgs += s"minute $m: ${rows.length} success log rows (want $want, erro $mark)"
      }
    }
    if (modelRuns > 0) {
      val wm = state.lastRun(s"$ds.${model.name}").get
      refreshView()
      val full = spark.sql(runner.render(model.sql, Map(
        "date_range_start" -> "1970-01-01 00:00:00",
        "date_range_end" -> wm.toString.takeWhile(_ != '.'))))
      val cols = Seq("ts", "n_rows", "n_events").map(col)
      val prod = lake.read(TableRef("prod", ds, model.name)).select(cols: _*)
      if (full.select(cols: _*).collect().toSet != prod.collect().toSet) {
        msgs += "model output differs from its SQL over the whole staging table"
        bad ++= (0 until ops.size).filter(_ % CaptureTicks.cycle == CaptureTicks.cycle - 1)
      }
    }
    (bad.toSet, msgs.toSeq)
  }

  def stored(): (Long, Long) = (bytesUnder(root), math.max(1L, rowsLanded))

  def layerMetrics(ops: Seq[OpRec], t: Tracer): Map[String, Double] = {
    val n = math.max(1, ops.count(_.traced)).toDouble
    def p50(name: String) = medianOf(t.spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).toSeq)
    // jobs of Recapture's plan: SQL executions whose innermost graft frame
    // is Recapture.scala (the backfill's own writes start in Lake.scala)
    val traced = t.jobs.values.filter(_.span >= 0).toSeq
    val graftFiles = moduleMap(new File("src/main/scala")).keySet
    val planExecs = t.execs.values.filter(_.files.find(graftFiles).contains("Recapture.scala"))
      .map(_.id).toSet
    val recapture = traced.filter(j => planExecs(j.execId)).map(j => (j.end - j.start) / 1e3).sum
    val matSpans = t.spans.filter(_.layer == "materialize").map(_.id).toSet
    val logDir = new File(lake.path(log.ref(ds, table)))
    Map(
      "streaming.process_batch_s" -> p50("Capture.processBatch"),
      "streaming.backfill_s" -> p50("Recapture.backfill"),
      "streaming.recapture_plan_s" -> recapture / n,
      "streaming.jobs_per_tick" -> traced.size / n,
      "lake.log_files" -> filesUnder(logDir, _.getName.endsWith(".parquet")).size.toDouble,
      "state.bytes" -> bytesUnder(new File(root, "state")).toDouble,
      "materialize.run_s" -> p50("ModelRunner.runGated"),
      "materialize.skipped_frac" -> modelSkips.toDouble / math.max(1, modelRuns + modelSkips),
      "materialize.staging_files_read" ->
        t.qes.filter(q => matSpans(q.span)).map(_.scanFiles).sum.toDouble /
          math.max(1, t.spans.count(_.name == "ModelRunner.runGated")))
  }
}

object CaptureTicks {
  /** Warm-up captures before the measured minutes. */
  val warmMinutes = 4
  /** The model period in minutes, and the cycle minute of the backfill
    * (the generator withholds one earlier minute per cycle). */
  val cycle = 10
  val backfillAt = 6
}
