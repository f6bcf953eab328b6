package graft

import java.sql.Timestamp

import graft.lake.{Lake, TableRef}
import graft.materialize.{Model, ModelRunner}
import graft.quality.{Check, Quality}
import graft.state.StateStore
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("incremental model: window from watermark, idempotent re-run (§3.3)") {
    val root = tmpDir("lake")
    val lake = new Lake(spark, root)
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")

    Tables.load(spark, sf001, "events")
      .createOrReplaceTempView("src_events")
    val model = Model("hourly",
      """SELECT date_trunc('hour', ts) AS ts, event_type,
        |  count(*) AS n,
        |  date_format(ts, 'yyyy-MM-dd') AS data
        |FROM src_events
        |WHERE ts > to_timestamp('{{date_range_start}}')
        |  AND ts <= to_timestamp('{{date_range_end}}')
        |GROUP BY 1, 2, 4""".stripMargin)

    // first run: empty target → seed watermark → full history window
    val now1 = Timestamp.valueOf("2024-01-10 00:00:00")
    runner.run(model, now1)
    val afterFirst = lake.read(TableRef("prod", "ds", "hourly")).count()
    assert(afterFirst > 0)
    // watermark advanced
    assert(state.lastRun("ds.hourly") === Some(now1))

    // second run over the next window appends only new partitions
    val now2 = Timestamp.valueOf("2024-01-20 00:00:00")
    runner.run(model, now2)
    val afterSecond = lake.read(TableRef("prod", "ds", "hourly")).count()
    assert(afterSecond > afterFirst)

    // re-running the same window is idempotent (dynamic overwrite)
    state.setLastRun("ds.hourly", now1)
    runner.run(model, now2)
    assert(lake.read(TableRef("prod", "ds", "hourly")).count() === afterSecond)
  }

  test("recapture gate: pending gap skips tick + holds watermark; late data lands (T10)") {
    import graft.lake.CaptureLog
    import graft.materialize.GateSource
    import graft.streaming.{Capture, CaptureConfig, Recapture}
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts"))
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    val sources = Seq(GateSource("ds", "gps"))

    val base = Timestamp.valueOf("2024-01-05 00:00:00")
    def minute(m: Int) = new Timestamp(base.getTime + m * 60000L)
    // the lookback day before the window was fully successful (bulk log
    // append) so the planner sees exactly the holes this test creates
    val startSec = (minute(2).getTime / 1000 - 86400) / 60 * 60
    val pre = spark.range(1).select(explode(sequence(
        timestamp_seconds(lit(startSec)),
        lit(new Timestamp(base.getTime - 60000L)),
        expr("INTERVAL 1 MINUTES"))).as("timestamp_captura"))
      .withColumn("sucesso", lit(true))
      .withColumn("erro", lit(null).cast("string"))
      .withColumn("data", date_format($"timestamp_captura", "yyyy-MM-dd"))
    lake.append(pre, log.ref("ds", "gps"), partitionBy = Seq("data"))

    def capture(m: Int): Unit = cap.processBatch(
      Seq((m.toLong, minute(m), s"v$m")).toDF("id", "ts", "v"), minute(m))
    // partition grain = capture minute: a window boundary always falls on
    // a partition boundary, so the dynamic-overwrite write of one window
    // can never clobber an earlier window's rows (the same discipline the
    // reference's insert_overwrite models follow with their date grain)
    val model = Model("gps_clean",
      """SELECT id, timestamp_captura AS ts, content,
        |  date_format(timestamp_captura, 'yyyy-MM-dd') AS data,
        |  date_format(timestamp_captura, 'HH-mm') AS hm
        |FROM src_gps
        |WHERE timestamp_captura > to_timestamp('{{date_range_start}}')
        |  AND timestamp_captura <= to_timestamp('{{date_range_end}}')""".stripMargin,
      partitionBy = Seq("data", "hm"))
    def tick(now: Timestamp): Option[org.apache.spark.sql.DataFrame] = {
      // fresh view per tick: the staging file index must include files
      // appended since the previous tick
      lake.read(TableRef("staging", "ds", "gps")).createOrReplaceTempView("src_gps")
      runner.runGated(model, now, log, sources)
    }

    // minutes 0-2 captured cleanly → first tick materializes
    (0 to 2).foreach(capture)
    assert(tick(minute(2)).isDefined)
    assert(state.lastRun("ds.gps_clean") === Some(minute(2)))
    assert(lake.read(TableRef("prod", "ds", "gps_clean")).count() === 3)

    // minute 3 capture MISSED; 4 and 5 land fine → tick must be a NO-OP
    // with the watermark unmoved (else m3's late data is stale forever)
    Seq(4, 5).foreach(capture)
    assert(tick(minute(5)).isEmpty, "tick must skip while a gap is pending")
    assert(state.lastRun("ds.gps_clean") === Some(minute(2)), "watermark must hold")
    assert(lake.read(TableRef("prod", "ds", "gps_clean")).count() === 3)

    // recapture closes the gap, then the next tick materializes BOTH
    // windows — the skipped one and the new one
    Recapture.backfill(spark, cap, log.read("ds", "gps"), minute(5),
      fetch = ts => Seq((3L, ts, "v3")).toDF("id", "ts", "v"))
    assert(tick(minute(5)).isDefined)
    assert(state.lastRun("ds.gps_clean") === Some(minute(5)))

    // prod now equals a from-scratch rebuild of the model over staging
    val prod = lake.read(TableRef("prod", "ds", "gps_clean"))
      .select($"id", $"ts", $"content")
      .as[(Long, Timestamp, String)].collect().toSet
    val rebuild = lake.read(TableRef("staging", "ds", "gps"))
      .select($"id", $"timestamp_captura", $"content")
      .as[(Long, Timestamp, String)].collect().toSet
    assert(prod === rebuild)
    assert(prod.map(_._1) === Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("gated model minute runs only the model SQL's jobs; backfill minute none") {
    import graft.lake.CaptureLog
    import graft.materialize.GateSource
    import graft.streaming.{Capture, CaptureConfig, Recapture}
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts"))
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    val base = Timestamp.valueOf("2024-01-05 00:00:00")
    def minute(m: Int) = new Timestamp(base.getTime + m * 60000L)
    def fmt(ts: Timestamp) = ts.toString.takeWhile(_ != '.')
    // a successful lookback day, then a capture loop whose minute 4 failed
    val startSec = (base.getTime / 1000 - 86400) / 60 * 60
    lake.append(spark.range(1).select(explode(sequence(
        timestamp_seconds(lit(startSec)), lit(minute(-1)),
        expr("INTERVAL 1 MINUTES"))).as("timestamp_captura"))
      .withColumn("sucesso", lit(true)).withColumn("erro", lit(null).cast("string"))
      .withColumn("data", date_format($"timestamp_captura", "yyyy-MM-dd")),
      log.ref("ds", "gps"), partitionBy = Seq("data"))
    def batch(m: Int) = Seq((m.toLong, minute(m), s"v$m")).toDF("id", "ts", "v")
    def capture(m: Int): Unit =
      if (m == 4) log.append("ds", "gps", minute(m), success = false, error = Some("down"))
      else cap.processBatch(batch(m), minute(m))
    val model = Model("per_minute",
      """SELECT date_trunc('minute', timestamp_captura) AS ts, count(*) AS n,
        |  date_format(timestamp_captura, 'yyyy-MM-dd') AS data,
        |  date_format(timestamp_captura, 'HH-mm') AS hm
        |FROM src_gps
        |WHERE timestamp_captura > to_timestamp('{{date_range_start}}')
        |  AND timestamp_captura <= to_timestamp('{{date_range_end}}')
        |GROUP BY 1, 3, 4""".stripMargin, partitionBy = Seq("data", "hm"))
    def view(): Unit =
      lake.read(TableRef("staging", "ds", "gps")).createOrReplaceTempView("src_gps")

    (0 to 6).foreach(capture)
    var plan: Recapture.Plan = null
    assert(jobsDuring {
      plan = Recapture.backfill(spark, cap, log.read("ds", "gps"), minute(6),
        fetch = ts => batch(((ts.getTime - base.getTime) / 60000L).toInt))
    }.isEmpty)
    assert(plan.timestamps === Seq(minute(4)))
    (7 to 9).foreach(capture)
    view()
    assert(runner.runGated(model, minute(9), log, Seq(GateSource("ds", "gps"))).isDefined)
    // the next cycle's model minute: the gate, the watermark read and
    // write run no job, so it runs exactly the jobs of the model's own
    // SQL written over the same window
    (10 to 19).foreach(capture)
    view()
    val gated = jobsDuring {
      assert(runner.runGated(model, minute(19), log, Seq(GateSource("ds", "gps"))).isDefined)
    }
    assert(state.lastRun("ds.per_minute") === Some(minute(19)))
    val sqlOnly = jobsDuring(lake.overwritePartitions(spark.sql(runner.render(model.sql,
      Map("date_range_start" -> fmt(minute(9)), "date_range_end" -> fmt(minute(19))))),
      TableRef("prod", "ds", "per_minute"), model.partitionBy))
    assert(sqlOnly.nonEmpty && gated.size === sqlOnly.size, (gated.size, sqlOnly.size))
    assert(lake.read(TableRef("prod", "ds", "per_minute")).count() === 20)
  }

  test("recapture gate treats a missing log table as pending, not a crash") {
    import graft.lake.CaptureLog
    import graft.materialize.GateSource
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val runner = new ModelRunner(spark, lake, new StateStore(spark, tmpDir("state")), "ds")
    val model = Model("never_runs", "SELECT 1 AS x")
    // the source's first capture hasn't landed: the tick must skip (and a
    // scheduler loop keeps retrying), not die on the missing parquet path
    val out = runner.runGated(model, Timestamp.valueOf("2024-01-05 00:10:00"),
      log, Seq(GateSource("ds", "not_captured_yet")))
    assert(out.isEmpty)
  }

  test("recapture plan refuses a non-positive interval or a negative lookback") {
    import graft.lake.CaptureLog
    import graft.materialize.GateSource
    import graft.streaming.Recapture
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val now = Timestamp.valueOf("2024-01-05 00:10:00")
    log.append("ds", "gps", now, success = true)
    val logs = log.read("ds", "gps")
    def refused(param: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(param), e.getMessage)
    }
    refused("intervalMinutes")(Recapture.plan(spark, logs, now, intervalMinutes = 0))
    refused("intervalMinutes")(Recapture.plan(spark, logs, now, intervalMinutes = -1))
    refused("lookbackDays")(Recapture.plan(spark, logs, now, lookbackDays = -1))
    // a gate source reaches the plan through runGated
    val runner = new ModelRunner(spark, lake, new StateStore(spark, tmpDir("state")), "ds")
    refused("intervalMinutes")(runner.runGated(Model("gated", "SELECT 1 AS x"), now, log,
      Seq(GateSource("ds", "gps", intervalMinutes = 0))))
  }

  test("backfill stepper refuses a non-positive step") {
    val lake = new Lake(spark, tmpDir("lake"))
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    state.setLastRun("ds.bf", Timestamp.valueOf("2024-01-01 00:00:00"))
    for (step <- Seq(0, -2)) {
      val e = intercept[IllegalArgumentException] {
        runner.backfill(Model("bf", "SELECT 1 AS x"),
          Timestamp.valueOf("2024-01-01 06:00:00"), stepHours = step)
      }
      assert(e.getMessage.contains("stepHours"), e.getMessage)
    }
    assert(state.lastRun("ds.bf") === Some(Timestamp.valueOf("2024-01-01 00:00:00")))
  }

  test("model DAG runs dependencies first and detects cycles") {
    val order = scala.collection.mutable.ArrayBuffer[String]()
    val lake = new Lake(spark, tmpDir("lake")) {
      override def overwritePartitions(df: org.apache.spark.sql.DataFrame,
          ref: TableRef, partitionBy: Seq[String]): Unit =
        order += ref.table
    }
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    spark.sql("SELECT to_timestamp('2024-01-01') AS ts, 'x' AS data")
      .createOrReplaceTempView("one")
    def m(n: String, deps: Seq[String]) =
      Model(n, "SELECT ts, data FROM one", deps = deps)
    runner.runDag(Seq(m("c", Seq("b")), m("a", Nil), m("b", Seq("a"))),
      Timestamp.valueOf("2024-01-02 00:00:00"))
    assert(order.toSeq === Seq("a", "b", "c"))
    intercept[IllegalArgumentException] {
      runner.runDag(Seq(m("x", Seq("y")), m("y", Seq("x"))),
        Timestamp.valueOf("2024-01-02 00:00:00"))
    }
  }

  test("dbt-style graph selectors: m, +m, m+, +m+ over a diamond DAG") {
    val order = scala.collection.mutable.ArrayBuffer[String]()
    val lake = new Lake(spark, tmpDir("lake")) {
      override def overwritePartitions(df: org.apache.spark.sql.DataFrame,
          ref: TableRef, partitionBy: Seq[String]): Unit =
        order += ref.table
    }
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    spark.sql("SELECT to_timestamp('2024-01-01') AS ts, 'x' AS data")
      .createOrReplaceTempView("one")
    def m(n: String, deps: Seq[String]) =
      Model(n, "SELECT ts, data FROM one", deps = deps)
    // diamond: a → (b, c) → d, plus unrelated e
    val dag = Seq(m("a", Nil), m("b", Seq("a")), m("c", Seq("a")),
      m("d", Seq("b", "c")), m("e", Nil))
    val now = Timestamp.valueOf("2024-01-02 00:00:00")

    assert(runner.select(dag, "b").map(_.name) === Seq("b"))
    assert(runner.select(dag, "+d").map(_.name) === Seq("a", "b", "c", "d"))
    assert(runner.select(dag, "a+").map(_.name) === Seq("a", "b", "c", "d"))
    assert(runner.select(dag, "+b+").map(_.name) === Seq("a", "b", "d"))
    assert(runner.select(dag, "e").map(_.name) === Seq("e"))
    intercept[IllegalArgumentException](runner.select(dag, "+nope"))

    // execution respects intra-selection dependency order
    order.clear()
    val ran = runner.runSelected(dag, "+d", now)
    assert(ran === order.toSeq)
    assert(ran.indexOf("a") < ran.indexOf("b") &&
      ran.indexOf("a") < ran.indexOf("c") &&
      ran.indexOf("b") < ran.indexOf("d") &&
      ran.indexOf("c") < ran.indexOf("d"))
    assert(!ran.contains("e"))
  }

  test("backfill stepper advances in fixed windows until caught up") {
    val lake = new Lake(spark, tmpDir("lake"))
    val state = new StateStore(spark, tmpDir("state"))
    val runner = new ModelRunner(spark, lake, state, "ds")
    spark.sql("SELECT to_timestamp('2024-01-01 00:30:00') AS ts, 'p' AS data")
      .createOrReplaceTempView("tiny")
    val model = Model("bf",
      """SELECT ts, data FROM tiny
        |WHERE ts > to_timestamp('{{date_range_start}}')
        |  AND ts <= to_timestamp('{{date_range_end}}')""".stripMargin)
    state.setLastRun("ds.bf", Timestamp.valueOf("2024-01-01 00:00:00"))
    val steps = runner.backfill(model,
      Timestamp.valueOf("2024-01-01 06:00:00"), stepHours = 2)
    assert(steps === 3)
    assert(state.lastRun("ds.bf") === Some(Timestamp.valueOf("2024-01-01 06:00:00")))
  }

  test("quality checks: empty result = pass, offending rows reported (A7)") {
    Tables.load(spark, sf001, "events").createOrReplaceTempView("q_events")
    val pass = Quality.run(spark, Check("no_null_ids", "ids are never null",
      "SELECT * FROM q_events WHERE event_id IS NULL"))
    assert(pass.passed && pass.nOffending === 0)
    val fail = Quality.run(spark, Check("no_errors", "no error events",
      "SELECT * FROM q_events WHERE event_type = '{{bad_type}}'"),
      vars = Map("bad_type" -> "error"))
    assert(!fail.passed && fail.nOffending > 0 && fail.sample.nonEmpty)
  }

  test("dbt schema tests: unique, not_null, accepted_values, relationships") {
    import graft.quality.Quality.SchemaTests
    import spark.implicits._
    val orders = Tables.load(spark, sf001, "orders")
    val customer = Tables.load(spark, sf001, "customer")

    // pk uniqueness holds; a duplicated frame fails with the dup key
    assert(SchemaTests.asResult("pk",
      SchemaTests.unique(orders, Seq("o_orderkey"))).passed)
    val dup = SchemaTests.asResult("pk_dup",
      SchemaTests.unique(orders.unionAll(orders.limit(3)), Seq("o_orderkey")))
    assert(!dup.passed && dup.nOffending === 3)

    // not_null + accepted_values
    assert(SchemaTests.asResult("nn",
      SchemaTests.notNull(orders, "o_orderstatus")).passed)
    assert(SchemaTests.asResult("av",
      SchemaTests.acceptedValues(orders, "o_orderstatus",
        Seq("F", "O", "P"))).passed)
    val badAv = SchemaTests.asResult("av_bad",
      SchemaTests.acceptedValues(orders, "o_orderstatus", Seq("F", "O")))
    assert(!badAv.passed)
    // NULLs pass accepted_values (dbt's NOT IN three-valued logic drops
    // them) — rejecting NULLs is not_null's job, declared separately
    assert(SchemaTests.asResult("av_null",
      SchemaTests.acceptedValues(Seq[Option[String]](Some("F"), None)
        .toDF("o_orderstatus"), "o_orderstatus", Seq("F"))).passed)
    assert(!SchemaTests.asResult("av_null_bad",
      SchemaTests.acceptedValues(Seq[Option[String]](Some("X"), None)
        .toDF("o_orderstatus"), "o_orderstatus", Seq("F"))).passed)

    // referential integrity orders→customer holds; a ghost key fails
    assert(SchemaTests.asResult("fk",
      SchemaTests.relationships(orders, "o_custkey", customer, "c_custkey"))
      .passed)
    val ghost = orders.limit(1).withColumn("o_custkey", lit(-999L))
    assert(!SchemaTests.asResult("fk_bad",
      SchemaTests.relationships(orders.unionAll(ghost), "o_custkey",
        customer, "c_custkey")).passed)
  }

  test("reference check suite shapes run against lake views (FIXTURES §10)") {
    val ev = Tables.load(spark, sf001, "events")
    ev.createOrReplaceTempView("events_v")
    ev.createOrReplaceTempView("treated_v")
    // complete log: every minute has a success → capture_gaps passes
    spark.sql(
      """SELECT explode(sequence(to_timestamp('2024-01-05 00:00:00'),
        |  to_timestamp('2024-01-05 00:59:00'), INTERVAL 1 MINUTE))
        |  AS timestamp_captura, true AS sucesso""".stripMargin)
      .createOrReplaceTempView("logs_v")
    spark.sql(
      """SELECT to_timestamp('2023-01-01') AS feed_start_date,
        |  CAST(NULL AS TIMESTAMP) AS feed_end_date""".stripMargin)
      .createOrReplaceTempView("feed_v")
    val results = Quality.runAll(spark, Quality.referenceChecks, Map(
      "start_timestamp" -> "2024-01-05 00:00:00",
      "end_timestamp" -> "2024-01-05 00:59:00",
      "min_pct" -> "100"))
    assert(results.forall(_.passed), results.filterNot(_.passed).toString)
  }
}
