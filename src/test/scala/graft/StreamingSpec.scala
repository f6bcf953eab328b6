package graft

import java.sql.Timestamp

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.streaming.{Capture, CaptureConfig, Recapture}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("capture batch: raw + nested staging + success log (§3.2 slice)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("smtr", "gps", pk = Seq("event_id"), tsCol = "ts"))
    val raw = Tables.load(spark, sf001, "events").limit(50)
    cap.processBatch(raw, Timestamp.valueOf("2024-01-05 10:00:00"))

    assert(lake.read(TableRef("raw", "smtr", "gps")).count() === 50)
    val staged = lake.read(TableRef("staging", "smtr", "gps"))
    assert(staged.count() === 50)
    assert(staged.columns.toSet ===
      Set("event_id", "timestamp_captura", "content", "data", "hora", "tick"))
    // content is valid JSON carrying the non-pk fields
    assert(staged.select(get_json_object($"content", "$.event_type").as("et"))
      .filter($"et".isNotNull).count() === 50)
    assert(log.read("smtr", "gps").filter($"sucesso" === true).count() === 1)
    // REPLAY idempotency (T5, review-hardened): re-running the same
    // tick overwrites its raw AND staging partitions — no duplicates
    // in either zone (staging append was the original sin: the hour
    // partition is shared by ~60 ticks, so only the tick sub-partition
    // can be the overwrite unit)
    cap.processBatch(raw, Timestamp.valueOf("2024-01-05 10:00:00"))
    assert(lake.read(TableRef("raw", "smtr", "gps")).count() === 50,
      "raw replay duplicated rows")
    assert(lake.read(TableRef("staging", "smtr", "gps")).count() === 50,
      "staging replay duplicated rows")
  }

  test("streaming capture via foreachBatch over a file source (T1)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("smtr", "stream_t", pk = Seq("event_id"), tsCol = "ts"))
    // stage a parquet landing dir as the streaming source
    val landing = tmpDir("landing")
    val src = Tables.load(spark, sf001, "events").limit(30)
    src.write.mode("overwrite").parquet(landing)
    val stream = spark.readStream.schema(src.schema).parquet(landing)
    val q = cap.start(stream, checkpoint = tmpDir("ckpt"),
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(lake.read(TableRef("staging", "smtr", "stream_t")).count() === 30)
    assert(log.read("smtr", "stream_t").filter($"sucesso" === true).count() >= 1)
  }

  test("watermarked tumbling-window aggregation over a stream (T2/T3)") {
    val landing = tmpDir("wm_landing")
    val src = Tables.load(spark, sf001, "events").limit(200)
    src.write.mode("overwrite").parquet(landing)
    val stream = spark.readStream.schema(src.schema).parquet(landing)
    val agg = stream
      .withWatermark("ts", "60 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count("*").as("n"), sum($"value").as("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // append mode emits only windows closed by the watermark; with one
    // batch the final watermark still holds back the tail windows
    val batchTotal = src
      .groupBy(window($"ts", "5 minutes"), $"event_type").count().count()
    val emitted = spark.sql("SELECT count(*) FROM wm_out").head().getLong(0)
    assert(emitted > 0 && emitted <= batchTotal)
  }

  test("streaming dedup within watermark drops re-delivered content") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF.toDF("id", "text", "ts")
    val out = StreamDedup.exactWithinWatermark(stream, "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sd_out").start()
    try {
      // batch 1: two distinct docs + an in-batch duplicate (first wins)
      mem.addData((1L, "doc a", t("10:00")), (2L, "doc b", t("10:01")),
        (3L, "doc a", t("10:02")))
      q.processAllAvailable()
      // batch 2: re-delivery of doc a within the horizon + a novel doc
      mem.addData((4L, "doc a", t("10:03")), (5L, "doc c", t("10:04")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM sd_out").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 5L))
      // the dedup column is internal plumbing but present on the output
      assert(spark.table("sd_out").columns.contains("content_hash"))
    } finally q.stop()
  }

  test("streaming decontamination: stateless span scrub on arriving docs") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("id", "text")
    // registered benchmark: one 3-gram; margin 2 strips neighbors too
    val testSh = Seq("alpha beta gamma")
    val out = StreamDedup.decontamScrub(stream, "text", testSh)
    // STATELESS: append mode with no watermark must be accepted —
    // the stage is a projection, not a stateful operator
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dc_out").start()
    try {
      mem.addData(
        (1L, "c1 c2 c3 c4 c5 c6 c7 c8 alpha beta gamma c9 c10 c11 c12"),
        (2L, "clean words only here"),
        (3L, "alpha beta gamma")) // pure benchmark → scrubbed to ""
      q.processAllAvailable()
      // batch 2 sees the same pinned set (plan reference): still scrubs
      mem.addData((4L, "x1 x2 alpha beta gamma"))
      q.processAllAvailable()
      val got = spark.sql("SELECT id, text, n_removed FROM dc_out")
        .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) === (("c1 c2 c3 c4 c5 c6 c11 c12", 7L)))
      assert(got(2L) === (("clean words only here", 0L)))
      assert(got(3L) === (("", 3L))) // downstream filter's job to drop
      assert(got(4L) === (("", 5L))) // span [0-2=0, 2+4] covers all 5
    } finally q.stop()
  }

  test("streaming line scrub: earlier micro-batches' lines strip from later ones") {
    import graft.lake.{CorpusDedup, Lake}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the line-scrub family closes over streaming as a PURE composition
    // — foreachBatch drives the same scrubLines/commitLines pair the
    // daily ingest uses, the bucketed seen-lines table IS the stream's
    // state (exactly how the cross-run exact/semantic gates stream):
    // no new machinery, no new state format
    val lake = new Lake(spark, tmpDir("sl_lake"))
    val dd = new CorpusDedup(spark, lake, "sl_stream", numBuckets = 4)
    val got = collection.mutable.Map[Long, (String, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val scrubbed = dd.scrubLines(batch, "doc_id", "text", lineTokens = 3)
          .filter(col("n_kept") > 0)
        scrubbed.select(col("doc_id"), col("text_dedup"), col("n_kept"))
          .collect().foreach(r =>
            got(r.getLong(0)) = (r.getString(1), r.getLong(2)))
        dd.commitLines(batch, "text", lineTokens = 3)
        ()
      }.start()
    try {
      mem.addData((1L, "a b c x y z")) // lines "a b c", "x y z"
      q.processAllAvailable()
      assert(got(1L) === (("a b c x y z", 2L)))
      // batch 2: one historical line + one novel; one doc ALL-historical
      mem.addData((10L, "a b c q r s"), (11L, "x y z"))
      q.processAllAvailable()
      assert(got(10L) === (("q r s", 1L)))
      assert(!got.contains(11L), "all-historical doc must drop, not land empty")
      // batch 3: the batch-2 novel line is now history too
      mem.addData((20L, "q r s t u v"))
      q.processAllAvailable()
      assert(got(20L) === (("t u v", 1L)))
    } finally q.stop()
  }

  test("streaming semantic dedup: cosine-verified drops, eviction, bucket boundary") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // all-positive base → bucket "1111"; first component deliberately
    // TINY so flipping its sign changes the bucket, not the angle
    val base = Array(0.01f, 0.8f, 0.6f, 0.4f, 0.2f, 0.1f)
    val nearDup = base.map(_ * 1.01f) // cosine ≈ 1, same bucket
    // same bucket, genuinely different direction (cosine ≈ 0.62 < 0.9)
    val sameBucketFar = Array(0.1f, 0.2f, 0.9f, 0.01f, 0.9f, 0.01f)
    // cosine ≈ 0.9998 to base but the flipped sign lands it in bucket
    // "0111": the documented sign-bucket recall loss — it must PASS
    val crossBucket = Array(-0.01f, 0.8f, 0.6f, 0.4f, 0.2f, 0.1f)

    val mem = MemoryStream[(Long, Array[Float], Timestamp)]
    val out = StreamDedup.semanticWithinWatermark(
      mem.toDF.toDF("doc_id", "emb", "ts"), "doc_id", "emb", "ts",
      "10 minutes", threshold = 0.9, bits = 4)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sem_out").start()
    def ids() = spark.sql("SELECT doc_id FROM sem_out")
      .as[Long].collect().toSet
    try {
      // batch 1: base admitted; in-batch near-dup dropped (cosine ≥ .9
      // in the same bucket); same-bucket-but-far admitted (bucket
      // collision alone must NOT drop)
      mem.addData((1L, base, t("10:00")), (2L, nearDup, t("10:01")),
        (3L, sameBucketFar, t("10:02")))
      q.processAllAvailable()
      assert(ids() === Set(1L, 3L))
      // batch 2: cross-batch near-dup still inside the horizon →
      // dropped by state; cross-bucket near-dup passes (boundary loss,
      // caught by the batch layer downstream)
      mem.addData((4L, nearDup, t("10:03")), (5L, crossBucket, t("10:04")))
      q.processAllAvailable()
      assert(ids() === Set(1L, 3L, 5L))
      // push the watermark far past the horizon, then re-deliver the
      // near-dup: state was evicted, so it is ADMITTED again — horizon
      // semantics, the cross-horizon layer is CorpusDedup's job
      mem.addData((6L, Array(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.5f), t("12:00")))
      q.processAllAvailable()
      mem.addData((7L, nearDup, t("12:05")))
      q.processAllAvailable()
      assert(ids() === Set(1L, 3L, 5L, 6L, 7L))
    } finally q.stop()
  }

  test("streaming semantic dedup quarantines dimension-mismatched embeddings") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val base = Array(0.01f, 0.8f, 0.6f, 0.4f, 0.2f, 0.1f)
    val nearDup = base.map(_ * 1.01f)
    val truncated = Array(0.9f, 0.1f, 0.05f) // a corrupt row — wrong dimension
    // default posture (no expectedDim) is the LOUD failure — a poison
    // row wedges the stream on every restart; expectedDim turns it
    // into a dead-letter skip: one dropped row, counted, stream lives
    val acc = spark.sparkContext.longAccumulator("sem_quarantined")
    val mem = MemoryStream[(Long, Array[Float], Timestamp)]
    val out = StreamDedup.semanticWithinWatermark(
      mem.toDF.toDF("doc_id", "emb", "ts"), "doc_id", "emb", "ts",
      "10 minutes", threshold = 0.9, bits = 4,
      expectedDim = Some(6), quarantined = Some(acc))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sem_q_out").start()
    try {
      // corrupt row arrives BETWEEN two good ones in one batch: it is
      // skipped (not admitted, not emitted, not remembered) and the
      // stream keeps deduplicating — the near-dup still drops against
      // the admitted base
      mem.addData((1L, base, t("10:00")), (2L, truncated, t("10:01")),
        (3L, nearDup, t("10:02")))
      q.processAllAvailable()
      assert(spark.sql("SELECT doc_id FROM sem_q_out")
        .as[Long].collect().toSet === Set(1L))
      assert(acc.value === 1L, s"quarantine count: ${acc.value}")
      // the quarantined vector left NO state: a full-length vector in
      // its direction (cosine ≈ 1 to the corrupt row, ≈ 0.12 to base)
      // is genuinely novel and must be admitted — had the corrupt row
      // been remembered, this one would have dropped against it
      mem.addData((4L, truncated ++ Array(0f, 0f, 0f), t("10:03")))
      q.processAllAvailable()
      assert(spark.sql("SELECT doc_id FROM sem_q_out")
        .as[Long].collect().toSet === Set(1L, 4L))
      assert(acc.value === 1L)
    } finally q.stop()
  }

  test("streaming prediction smoothing: buffers persist across micro-batches") {
    import graft.multimodal.PredictionBuffer
    import graft.multimodal.PredictionBuffer.{Prediction, Smoothed}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

    val mem = MemoryStream[Prediction]
    val out = PredictionBuffer.smoothStream(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("pb_out").start()
    try {
      // batch 1: first true is NOT an alert; a failed prediction is null
      mem.addData(Prediction("cam1", t("10:00"), Some(true)),
        Prediction("cam2", t("10:00"), None))
      q.processAllAvailable()
      // batch 2: second consecutive true fires — state crossed batches
      mem.addData(Prediction("cam1", t("10:01"), Some(true)))
      q.processAllAvailable()
      // batch 3: one false does not clear; two do
      mem.addData(Prediction("cam1", t("10:02"), Some(false)))
      mem.addData(Prediction("cam1", t("10:03"), Some(false)))
      q.processAllAvailable()
      val served = spark.table("pb_out").as[Smoothed].collect()
        .map(s => (s.entity, s.ts) -> s.label_smoothed).toMap
      assert(served(("cam1", t("10:00"))) === Some(false))
      assert(served(("cam2", t("10:00"))).isEmpty)
      assert(served(("cam1", t("10:01"))) === Some(true))
      assert(served(("cam1", t("10:02"))) === Some(true))
      assert(served(("cam1", t("10:03"))) === Some(false))
    } finally q.stop()
  }

  test("streaming NEAR-dup dedup drops edited re-delivery within watermark") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

    // fixtures chosen so the md5 minhash outcome is pinned (hashing is
    // deterministic): editing word 5 leaves every band's min-shingle
    // intact → ALL 4 band keys match; editing word 1 perturbs 3 of 4
    // bands → only 1 band is claimed and the doc must pass
    val docA = "the municipal transport agency publishes vehicle gps positions " +
      "every minute for all bus lines in the city of rio de janeiro " +
      "during regular service hours"
    val nearDupA = docA.replace("vehicle", "foo9")     // all bands match A
    val partialA = docA.replace("municipal", "completely") // 1 of 4 bands

    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF.toDF("id", "text", "ts")
    val out = StreamDedup.nearDupWithinWatermark(
      stream, "id", "text", "ts", "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ndd_out").start()
    try {
      // batch 1: the original + a shingle-less doc (surrogate band key)
      mem.addData((1L, docA, t("10:00")), (2L, "short", t("10:01")))
      q.processAllAvailable()
      // batch 2: edited near-dup (dropped: every band claimed by doc 1),
      // a partial-overlap edit (passes: 3 novel bands), a second
      // shingle-less doc (passes: surrogate keys never collide), and an
      // id re-delivery (dropped at the id stage at the latest)
      mem.addData((3L, nearDupA, t("10:02")), (4L, partialA, t("10:03")),
        (5L, "short", t("10:04")), (1L, docA, t("10:05")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM ndd_out").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 4L, 5L))
      // helper columns must not leak into the output
      assert(spark.table("ndd_out").columns.toSet === Set("id", "text", "ts"))
    } finally q.stop()
  }

  test("streaming session windows merge across batches, close on watermark (T2)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")

    // the exact q76 expression under a watermark: state keeps sessions
    // open across micro-batches, append mode emits a session only once
    // the watermark passes its end
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sess = mem.toDF.toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum($"value").as("s"))
      .select($"user_id", $"sw.start".as("st"), $"sw.end".as("en"), $"n", $"s")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      mem.addData((1L, t("10:00"), 1.0), (1L, t("10:10"), 2.0))
      q.processAllAvailable()
      mem.addData((1L, t("10:20"), 4.0)) // merges into the open session
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty,
        "no session may emit before the watermark passes its end")
      mem.addData((2L, t("13:00"), 8.0)) // advances event time
      q.processAllAvailable()
      mem.addData((2L, t("13:05"), 16.0)) // watermark 12:55 > 10:50 close
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
      assert(out === Set((1L, t("10:00"), t("10:50"), 3L, 7.0)),
        "the cross-batch-merged session emits once, closed; u2 stays open")
    } finally q.stop()
  }

  test("recapture planner finds missed minutes, caps at max (T4)") {
    val now = Timestamp.valueOf("2024-01-05 01:00:00")
    // logs: success every minute of the last hour EXCEPT 00:10 and 00:20;
    // failure row at 00:30 (failures must be replanned too)
    val minutes = (0 to 60).map(m =>
      new Timestamp(now.getTime - (60 - m) * 60000L))
    val logs = minutes.zipWithIndex.map { case (ts, i) =>
      val missing = i == 10 || i == 20
      (ts, !missing && i != 30, if (i == 30) "err" else null)
    }.filterNot { case (_, ok, e) => !ok && e == null } // drop the 2 missing
      .map { case (ts, ok, e) => (ts, ok, e) }
      .toDF("timestamp_captura", "sucesso", "erro")
    // uncapped: the three holes in the last hour are all planned
    val full = Recapture.plan(spark, logs, now, maxRecaptures = 2000)
    val planned = full.timestamps.map(_.toString).toSet
    assert(planned.contains(minutes(10).toString))
    assert(planned.contains(minutes(20).toString))
    assert(planned.contains(minutes(30).toString)) // failed tick replanned
    assert(!planned.contains(minutes(40).toString)) // successful tick is not
    // capped: oldest-first, exactly 90, overflow flagged (reference cap)
    val capped = Recapture.plan(spark, logs, now)
    assert(capped.timestamps.size === 90 && capped.overflowed)
    assert(capped.timestamps === capped.timestamps.sorted)
  }

  test("recapture planner edge cases: what counts as a captured minute (T4)") {
    // now is mid-minute: the spine runs 2024-01-04 01:00 .. 2024-01-05 01:00
    val now = Timestamp.valueOf("2024-01-05 01:00:20")
    val first = Timestamp.valueOf("2024-01-04 01:00:00").getTime
    def minute(m: Int) = new Timestamp(first + m * 60000L)
    def at(m: Int, sec: Int) = new Timestamp(first + m * 60000L + sec * 1000L)
    val last = 1440
    // every spine minute captured once at :00, except the minutes given
    def okExcept(ms: Int*) = (0 to last).filterNot(ms.contains)
      .map(m => (minute(m), true, null: String))
    val cases = Seq[(String, Seq[(Timestamp, Boolean, String)], Seq[Int])](
      ("success stamped mid-minute", okExcept(700) :+ ((at(700, 37), true, null)),
        Nil),
      ("success after now inside the last spine minute",
        okExcept(last) :+ ((at(last, 45), true, null)), Nil),
      ("success before the window",
        okExcept(0) :+ ((new Timestamp(first - 1000L), true, null)), Seq(0)),
      ("duplicate successes for one minute",
        okExcept() ++ Seq((at(5, 0), true, null), (at(5, 12), true, null)), Nil),
      ("failure, then a [recapturado] success; failure alone",
        okExcept(30, 31) ++ Seq((at(30, 0), false, "err"),
          (at(30, 50), true, "[recapturado]"), (at(31, 0), false, "err")),
        Seq(31)))
    cases.foreach { case (name, rows, missed) =>
      val p = Recapture.plan(spark, rows.toDF("timestamp_captura", "sucesso", "erro"),
        now, maxRecaptures = 2000)
      assert(p.timestamps === missed.map(minute) && !p.overflowed, name)
    }
    // empty log: every minute is missing, the oldest 90 are planned
    val empty = Recapture.plan(spark,
      Seq.empty[(Timestamp, Boolean, String)].toDF("timestamp_captura", "sucesso", "erro"),
      now)
    assert(empty.overflowed && empty.timestamps === (0 until 90).map(minute))
  }

  test("recapture plan of a lake-backed log is one Spark job (T4)") {
    val lake = new Lake(spark, tmpDir("lake"))
    val log = new CaptureLog(spark, lake)
    val now = Timestamp.valueOf("2024-01-05 00:10:00")
    log.appendAll("ds", "gps", (0 to 9).filter(_ != 4)
      .map(m => new Timestamp(now.getTime - m * 60000L)), success = true)
    log.append("ds", "gps", Timestamp.valueOf("2024-01-04 23:59:00"), success = true)
    var p: Recapture.Plan = null
    val jobs = jobsDuring {
      p = Recapture.plan(spark, log.read("ds", "gps"), now, maxRecaptures = 2000)
    }
    assert(jobs.size === 1)
    // 1441 spine minutes, 10 captured across the two date partitions
    assert(p.timestamps.size === 1431 && !p.overflowed)
    assert(p.timestamps.contains(new Timestamp(now.getTime - 4 * 60000L)))
    assert(!p.timestamps.contains(Timestamp.valueOf("2024-01-04 23:59:00")))
  }

  test("raw zone is replay-idempotent per tick (same-name replace semantics)") {
    val lake = new graft.lake.Lake(spark, tmpDir("lake"))
    val log = new graft.lake.CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts"))
    val tick = Timestamp.valueOf("2024-01-05 00:03:00")
    val batch = Seq((1L, Timestamp.valueOf("2024-01-05 00:02:10"), "a"),
      (2L, Timestamp.valueOf("2024-01-05 00:02:40"), "b")).toDF("id", "ts", "v")
    cap.processBatch(batch, tick)
    cap.processBatch(batch, tick) // retried tick (e.g. after log failure)
    val raw = lake.read(graft.lake.TableRef("raw", "ds", "gps"))
    assert(raw.count() === 2) // replaced, not appended
    // a DIFFERENT tick coexists — the overwrite is per tick, not per day
    cap.processBatch(batch.withColumn("id", $"id" + 10),
      Timestamp.valueOf("2024-01-05 00:04:00"))
    assert(lake.read(graft.lake.TableRef("raw", "ds", "gps")).count() === 4)
  }

  test("tickFor is write-once, crash-atomic, and heals a corrupt tick file (T5)") {
    val tmp = tmpDir("lake")
    val lake = new graft.lake.Lake(spark, tmp)
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts"))
    // write-once: a replay of the same batchId reads the SAME tick back
    val t1 = cap.tickFor(7L)
    assert(cap.tickFor(7L) === t1)

    val dir = new org.apache.hadoop.fs.Path(
      lake.path(graft.lake.TableRef("state", "ds", "gps_ticks")))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the commit is rename-based: no temp debris survives a completed call
    assert(!fs.listStatus(dir).exists(_.getPath.getName.endsWith(".tmp")))

    // crash window of the pre-rename writer: an EMPTY file at the final
    // path (create succeeded, write/close never ran). Must be treated as
    // ABSENT — healed and re-created — not thrown on (the old read path
    // threw NumberFormatException on ''.toLong forever, wedging replays).
    fs.create(new org.apache.hadoop.fs.Path(dir, "8"), true).close()
    val t2 = cap.tickFor(8L)
    assert(cap.tickFor(8L) === t2) // healed file is now the committed tick

    // unparseable NON-EMPTY garbage is NOT healed — no writer in the
    // rename-commit protocol produces a torn committed tick, so it is
    // external corruption and surfaces loudly (silently re-minting
    // could replace a tick another attempt landed partitions under —
    // the r13/r14 heal-race, closed by the zero-length-only rule)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "9"), true)
    out.write("16917".take(3).getBytes); out.write("x".getBytes); out.close()
    val loud = intercept[java.io.IOException] { cap.tickFor(9L) }
    assert(loud.getMessage.contains("unparseable non-empty"), loud.getMessage)
    // an operator removing the corrupt file un-wedges the batch
    fs.delete(new org.apache.hadoop.fs.Path(dir, "9"), false)
    val t3 = cap.tickFor(9L)
    assert(cap.tickFor(9L) === t3)
    // a PARTIAL NUMERIC PREFIX ("1694" of an epoch-millis string) must
    // not be accepted as a committed ~1970 tick — the plausibility
    // bound routes it to the same loud path as non-numeric garbage
    val pfx = fs.create(new org.apache.hadoop.fs.Path(dir, "11"), true)
    pfx.write("1694".getBytes); pfx.close()
    intercept[java.io.IOException] { cap.tickFor(11L) }
    fs.delete(new org.apache.hadoop.fs.Path(dir, "11"), false)
    // and the healed/re-minted ticks are real timestamps
    assert(t2.getTime > 0L && t3.getTime > 0L)

    // single-winner: a tick that a racer already committed is READ, never
    // replaced — the no-overwrite rename makes a late attempt the loser
    val pre = fs.create(new org.apache.hadoop.fs.Path(dir, "12"), true)
    pre.write("1700000000000".getBytes); pre.close()
    assert(cap.tickFor(12L) === new java.sql.Timestamp(1700000000000L))
    // ... and the commit primitive itself REFUSES an existing
    // destination (the foundation of that single-winner property): a
    // racer that loses the rename can only delete its temp and read
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dir.toUri, spark.sparkContext.hadoopConfiguration)
    val loser = new org.apache.hadoop.fs.Path(dir, ".12.loser.tmp")
    fs.create(loser, true).close()
    intercept[java.io.IOException] {
      fc.rename(loser, new org.apache.hadoop.fs.Path(dir, "12"))
    }
    assert(cap.tickFor(12L) === new java.sql.Timestamp(1700000000000L),
      "a losing rename must leave the committed tick untouched")
    fs.delete(loser, false)

    // temps leaked by a crash between create and rename are swept on the
    // next mint of the same batchId (age-guarded: only STALE temps go —
    // a live concurrent attempt's fresh temp must survive the sweep)
    val crashed = new org.apache.hadoop.fs.Path(dir, ".13.deadbeef-0000.tmp")
    fs.create(crashed, true).close()
    fs.setTimes(crashed, System.currentTimeMillis() - 600000L, -1L)
    // a stale orphan of ANOTHER batchId sweeps too — its own batch
    // committed long ago, so no same-batch mint will ever revisit it
    val orphan = new org.apache.hadoop.fs.Path(dir, ".7.00000000-0000.tmp")
    fs.create(orphan, true).close()
    fs.setTimes(orphan, System.currentTimeMillis() - 600000L, -1L)
    val live = new org.apache.hadoop.fs.Path(dir, ".13.cafebabe-0000.tmp")
    fs.create(live, true).close() // fresh mtime = an in-flight racer
    val t4 = cap.tickFor(13L)
    assert(cap.tickFor(13L) === t4)
    val tmps = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".tmp")).toSet
    assert(tmps === Set(".13.cafebabe-0000.tmp"),
      s"stale temps (any batchId) must sweep, live temp must survive: $tmps")
    fs.delete(live, false)
  }

  test("recapture backfill runs as ONE job and closes the gaps (T4/T5)") {
    val tmp = tmpDir("lake")
    val lake = new graft.lake.Lake(spark, tmp)
    val log = new graft.lake.CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts"))
    val base = Timestamp.valueOf("2024-01-05 00:00:00")
    def minute(m: Int) = new Timestamp(base.getTime + m * 60000L)

    // live capture succeeded for minutes 0-9 except 3 and 7
    (0 to 9).filterNot(m => m == 3 || m == 7).foreach { m =>
      cap.processBatch(
        Seq((m.toLong, minute(m), s"v$m")).toDF("id", "ts", "v"), minute(m))
    }
    val now = minute(9)
    // the lookback day BEFORE the test window was fully successful (one
    // bulk log append, so the planner sees only the 3/7 holes)
    val startSec = (now.getTime / 1000 - 86400) / 60 * 60
    val pre = spark.range(1).select(explode(sequence(
        timestamp_seconds(lit(startSec)),
        lit(new Timestamp(base.getTime - 60000L)),
        expr("INTERVAL 1 MINUTES"))).as("timestamp_captura"))
      .withColumn("sucesso", lit(true))
      .withColumn("erro", lit(null).cast("string"))
      .withColumn("data", date_format($"timestamp_captura", "yyyy-MM-dd"))
    lake.append(pre, log.ref("ds", "gps"), partitionBy = Seq("data"))

    def logFiles(): Set[String] = {
      val walk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(lake.path(log.ref("ds", "gps"))))
      try walk.iterator().asScala.map(_.toString)
        .filter(f => f.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val logFilesBefore = logFiles()
    var fetched = List[Int]()
    val plan = Recapture.backfill(spark, cap, log.read("ds", "gps"), now,
      fetch = { ts =>
        val m = ((ts.getTime - base.getTime) / 60000L).toInt
        fetched ::= m
        Seq((m.toLong, ts, s"v$m")).toDF("id", "ts", "v")
      }, lookbackDays = 1, maxRecaptures = 90)

    // exactly the two holes were fetched, in one processBackfill pass
    assert(fetched.toSet === Set(3, 7), fetched.toString)
    assert(!plan.overflowed)
    // the staging table now has every captured minute exactly once
    val staged = lake.read(graft.lake.TableRef("staging", "ds", "gps"))
    assert(staged.filter($"id" === 3 || $"id" === 7).count() === 2)
    // recovered minutes are [recapturado]-marked successes in the log,
    // landed by ONE log write (one new file), not one write per minute
    val marked = log.read("ds", "gps")
      .filter($"sucesso" === true && $"erro".startsWith("[recapturado]"))
    assert(marked.count() === 2)
    val newLogFiles = logFiles() -- logFilesBefore
    assert(newLogFiles.size === 1, newLogFiles)
    // and a re-plan over the same window finds nothing left in 0-9
    val replan = Recapture.plan(spark, log.read("ds", "gps"), now,
      maxRecaptures = 2000)
    assert(replan.timestamps.map(_.toString)
      .intersect((0 to 9).map(minute(_).toString)).isEmpty)
  }

  test("a throwing failure-log append does not mask the capture error") {
    val lake = new Lake(spark, tmpDir("lake"))
    val logDown = new java.io.IOException("log store down")
    val log = new CaptureLog(spark, lake) {
      override def appendAll(dataset: String, table: String,
                             capturedAt: Seq[Timestamp], success: Boolean,
                             error: Option[String],
                             recaptured: Boolean): Unit =
        if (success) super.appendAll(dataset, table, capturedAt, success,
          error, recaptured)
        else throw logDown
    }
    // the pk column is missing from the batch, so Nest.toContent fails
    // after the raw land
    val cap = new Capture(spark, lake, log,
      CaptureConfig("ds", "gps", pk = Seq("no_such_pk"), tsCol = "ts"))
    val tick = Timestamp.valueOf("2024-01-05 00:03:00")
    val batch = Seq((1L, Timestamp.valueOf("2024-01-05 00:02:10"), "a"))
      .toDF("id", "ts", "v")
    val live = intercept[org.apache.spark.sql.AnalysisException] {
      cap.processBatch(batch, tick)
    }
    assert(live.getMessage.contains("no_such_pk"), live.getMessage)
    // (Spark may attach its own caller-stacktrace marker as well)
    assert(live.getSuppressed.contains(logDown), live.getSuppressed.toSeq)
    // raw lands verbatim even though treat failed: the raw write runs
    // beside the treat step and is joined before the failure surfaces
    assert(lake.read(TableRef("raw", "ds", "gps")).count() === 1)
    val backfill = intercept[org.apache.spark.sql.AnalysisException] {
      cap.processBackfill(Seq(tick -> batch,
        Timestamp.valueOf("2024-01-05 00:04:00") -> batch))
    }
    assert(backfill.getSuppressed.contains(logDown), backfill.getSuppressed.toSeq)
  }

  /** A lake whose partition overwrites throw the error mapped to their zone. */
  private def failingLake(root: String, failing: Map[String, Exception]): Lake =
    new Lake(spark, root) {
      override def overwritePartitions(df: org.apache.spark.sql.DataFrame,
                                       ref: TableRef,
                                       partitionBy: Seq[String]): Unit =
        failing.get(ref.zone) match {
          case Some(e) => throw e
          case None => super.overwritePartitions(df, ref, partitionBy)
        }
    }

  private val landCfg = CaptureConfig("ds", "gps", pk = Seq("id"), tsCol = "ts")
  private val landTick = Timestamp.valueOf("2024-01-05 00:03:00")
  private def landBatch = Seq(
      (1L, Timestamp.valueOf("2024-01-05 00:02:10"), "a"),
      (2L, Timestamp.valueOf("2024-01-05 00:02:40"), "b"))
    .toDF("id", "ts", "v")

  test("concurrent land: a failed staging write logs once, after raw committed") {
    val root = tmpDir("lake")
    val stagingDown = new java.io.IOException("staging store down")
    val lake = failingLake(root, Map("staging" -> stagingDown))
    val log = new CaptureLog(spark, lake)
    val err = intercept[java.io.IOException] {
      new Capture(spark, lake, log, landCfg).processBatch(landBatch, landTick)
    }
    assert(err eq stagingDown)
    // the log row is written only after the raw write returned: one
    // failure row, no success row
    val logged = log.read("ds", "gps")
    assert(logged.filter($"sucesso" === false).count() === 1)
    assert(logged.filter($"sucesso" === true).count() === 0)
    // the raw tick partition is fully committed, with no writer debris
    val rawDir = java.nio.file.Paths.get(lake.path(TableRef("raw", "ds", "gps")))
    val walk = java.nio.file.Files.walk(rawDir)
    val files = try walk.iterator().asScala.map(rawDir.relativize(_).toString)
      .toSeq finally walk.close()
    assert(!files.exists(f => f.contains("_temporary") ||
      f.contains(".spark-staging") || f.contains(".graft-staging")), files)
    assert(files.exists(f => f.startsWith("data=") && f.contains("/tick=") &&
      f.endsWith(".parquet")), files)
    assert(lake.read(TableRef("raw", "ds", "gps")).count() === 2)
    // a retry on a healthy lake leaves exactly one copy in each zone
    val healthy = new Lake(spark, root)
    new Capture(spark, healthy, new CaptureLog(spark, healthy), landCfg)
      .processBatch(landBatch, landTick)
    assert(healthy.read(TableRef("raw", "ds", "gps")).count() === 2)
    assert(healthy.read(TableRef("staging", "ds", "gps")).count() === 2)
  }

  test("concurrent land: every capture job carries the caller's job group") {
    val lake = new Lake(spark, tmpDir("lake"))
    val cap = new Capture(spark, lake, new CaptureLog(spark, lake), landCfg)
    // a scan-backed batch, the shape of a foreachBatch micro-batch: its
    // zone writes are Spark jobs
    val src = s"${tmpDir("src")}/batch"
    landBatch.write.parquet(src)
    val scanned = spark.read.parquet(src)
    val group = "capture-land-group"
    val sc = spark.sparkContext
    val jobs = jobsDuring {
      sc.setJobGroup(group, "concurrent land")
      try {
        cap.processBatch(scanned, landTick)
        cap.processBackfill(Seq(
          Timestamp.valueOf("2024-01-05 00:04:00") -> scanned,
          Timestamp.valueOf("2024-01-05 00:05:00") -> scanned))
      } finally sc.clearJobGroup()
    }
    // raw + staging write per call at least
    assert(jobs.size >= 6, jobs.size)
    assert(jobs.forall(_.getProperty("spark.jobGroup.id") == group),
      jobs.map(_.getProperty("spark.jobGroup.id")))
    assert(lake.read(TableRef("raw", "ds", "gps")).count() === 6)
    assert(lake.read(TableRef("staging", "ds", "gps")).count() === 6)
    // a driver-held batch lands both zones and its log rows on the
    // driver: no Spark job at all
    val held = new Lake(spark, tmpDir("lake"))
    val heldCap = new Capture(spark, held, new CaptureLog(spark, held), landCfg)
    assert(jobsDuring {
      heldCap.processBatch(landBatch, landTick)
      heldCap.processBackfill(Seq(
        Timestamp.valueOf("2024-01-05 00:04:00") -> landBatch,
        Timestamp.valueOf("2024-01-05 00:05:00") -> landBatch))
    }.isEmpty)
    assert(held.read(TableRef("raw", "ds", "gps")).count() === 6)
    assert(held.read(TableRef("staging", "ds", "gps")).count() === 6)
    assert(new CaptureLog(spark, held).read("ds", "gps").count() === 3)
  }

  test("driver-written land: a crashed commit reads as before and replays once") {
    import java.nio.file.{Files, Path, Paths}
    val zones = Seq(TableRef("raw", "ds", "gps"), TableRef("staging", "ds", "gps"))
    val priorTick = Timestamp.valueOf("2024-01-05 00:02:00")
    def priorBatch = landBatch.withColumn("id", $"id" + 10)
    def capture(lake: Lake, log: CaptureLog = null) =
      new Capture(spark, lake, Option(log).getOrElse(new CaptureLog(spark, lake)), landCfg)
    def reads(lake: Lake): Seq[Seq[String]] =
      (zones.map(lake.read(_)) :+ new CaptureLog(spark, lake).read("ds", "gps"))
        .map(_.collect().map(_.toString).sorted.toSeq)
    def tree(dir: Path): Seq[Path] = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.toSeq finally walk.close()
    }
    // the landTick partition dirs of a zone, relative to its table root
    def tickDirs(lake: Lake, ref: TableRef): Seq[String] = {
      val table = Paths.get(lake.path(ref))
      tree(table).filter(_.getFileName.toString == "tick=20240105000300")
        .map(table.relativize(_).toString)
    }
    // the uninterrupted run: the prior tick, then landTick
    val done = new Lake(spark, tmpDir("lake"))
    capture(done).processBatch(priorBatch, priorTick)
    capture(done).processBatch(landBatch, landTick)
    val expected = reads(done)

    // a first attempt at landTick that landed both zones but died before
    // its log row
    val noLog = (lake: Lake) => new CaptureLog(spark, lake) {
      override def appendAll(dataset: String, table: String,
                             capturedAt: Seq[Timestamp], success: Boolean,
                             error: Option[String], recaptured: Boolean): Unit =
        throw new java.io.IOException("died before the log row")
    }
    for (oldDirDeleted <- Seq(false, true)) {
      val lake = new Lake(spark, tmpDir("lake"))
      capture(lake).processBatch(priorBatch, priorTick)
      val prior = reads(lake)
      if (oldDirDeleted) intercept[java.io.IOException] {
        capture(lake, noLog(lake)).processBatch(landBatch, landTick)
      }
      // the crash: landTick's files staged in each zone; in state (b)
      // the old landTick dir is already deleted, in state (a) there is none
      zones.foreach { z =>
        val table = Paths.get(lake.path(z))
        assert(tickDirs(lake, z).nonEmpty === oldDirDeleted, z)
        assert(tickDirs(done, z).size === 1, z)
        tickDirs(lake, z).foreach { d =>
          tree(table.resolve(d)).reverse.foreach(Files.delete)
        }
        tickDirs(done, z).foreach { d =>
          val from = Paths.get(done.path(z)).resolve(d)
          val to = table.resolve(".graft-staging-crashed").resolve(d)
          Files.createDirectories(to.getParent)
          tree(from).foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
        }
      }
      val state = if (oldDirDeleted) "(b)" else "(a)"
      assert(reads(lake) === prior, state)
      capture(lake).processBatch(landBatch, landTick)
      assert(reads(lake) === expected, state)
    }
  }

  test("concurrent land: both writes failing rethrows staging's, raw suppressed") {
    val rawDown = new java.io.IOException("raw store down")
    val stagingDown = new java.io.IOException("staging store down")
    val lake = failingLake(tmpDir("lake"),
      Map("raw" -> rawDown, "staging" -> stagingDown))
    val log = new CaptureLog(spark, lake)
    val cap = new Capture(spark, lake, log, landCfg)
    val live = intercept[java.io.IOException] {
      cap.processBatch(landBatch, landTick)
    }
    assert(live eq stagingDown)
    assert(live.getSuppressed.contains(rawDown), live.getSuppressed.toSeq)
    val backfillStaging = new java.io.IOException("staging store down")
    val backfillRaw = new java.io.IOException("raw store down")
    val lake2 = failingLake(tmpDir("lake"),
      Map("raw" -> backfillRaw, "staging" -> backfillStaging))
    val backfill = intercept[java.io.IOException] {
      new Capture(spark, lake2, new CaptureLog(spark, lake2), landCfg)
        .processBackfill(Seq(landTick -> landBatch))
    }
    assert(backfill eq backfillStaging)
    assert(backfill.getSuppressed.contains(backfillRaw),
      backfill.getSuppressed.toSeq)
    // only the raw write failing: its own error is what the caller sees
    val rawOnly = new java.io.IOException("raw store down")
    val lake3 = failingLake(tmpDir("lake"), Map("raw" -> rawOnly))
    val log3 = new CaptureLog(spark, lake3)
    val e3 = intercept[java.io.IOException] {
      new Capture(spark, lake3, log3, landCfg).processBatch(landBatch, landTick)
    }
    assert(e3 eq rawOnly)
    assert(log3.read("ds", "gps").filter($"sucesso" === false).count() === 1)
  }

  test("streaming camera clips: binaryFile stream → frames → scores (S22/T1)") {
    import graft.multimodal.{AviMjpeg, Multimodal}
    // the reference's camera flow as an actual stream over clip files:
    // new AVI uploads land in a directory, each tick extracts sampled
    // frames, decodes, and scores them — all inside one streaming plan
    // (extractFrames/decodeImage are mapPartitions ops, so they compose
    // into the streaming DataFrame like any other transform)
    val landing = tmpDir("clips_landing")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$landing/c1.avi"),
      aviBytes(Seq(220, 220).map(jpegGray(4, _)), 4, 4))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$landing/bad.avi"), "torn upload".getBytes)
    val stream = spark.readStream.format("binaryFile")
      .schema(spark.read.format("binaryFile").load(landing).schema)
      .load(landing)
      .select(col("path"), col("content"))
    val scoredStream = Multimodal.pixelFeatures(
      Multimodal.decodeImage(
        AviMjpeg.extractFrames(stream, stride = 1, maxFrames = 8),
        contentCol = "frame"),
      pixelsCol = "pixels")
    val q = scoredStream.writeStream.outputMode("append")
      .format("memory").queryName("clip_frames")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT path, frame_idx, features FROM clip_frames").collect()
    // two decoded frames from the good clip + one NULL row for the bad
    val good = rows.filter(_.getString(0).endsWith("c1.avi"))
    assert(good.map(_.getLong(1)).sorted.toSeq === Seq(0L, 1L))
    assert(good.forall(!_.isNullAt(2)))
    val bad = rows.filter(_.getString(0).endsWith("bad.avi"))
    assert(bad.length === 1 && bad.head.isNullAt(1) && bad.head.isNullAt(2))
  }

  test("streaming image dedup: decode → dHash → dropDuplicatesWithinWatermark") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // streaming MULTIMODAL dedup composes with ZERO new machinery:
    // decodeImage runs statelessly per micro-batch, the fused dHash
    // is the content key, and Spark's own watermarked key dedup holds
    // the TTL state — the exact-text streaming path's shape with a
    // perceptual key
    def png(shift: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(36, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 36) {
        val v = (((x / 4) * 40 + (y / 2) * 25) % 200 + shift) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val mem = MemoryStream[(Long, Array[Byte], Timestamp)]
    val hashed = Multimodal.imageDHash(Multimodal.decodeImage(
      mem.toDF.toDF("media_id", "content", "ts")))
      .filter(col("dhash").isNotNull)
      .select(col("media_id"), col("dhash"), col("ts"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("dhash")
    val q = hashed.writeStream.outputMode("append")
      .format("memory").queryName("img_dedup_out").start()
    try {
      // batch 1: an image, a RE-LEVELED copy (new bytes, same dHash —
      // a uniform shift preserves every gradient), and CORRUPT bytes —
      // the copy drops as a dup, the corrupt row is filtered out
      mem.addData((1L, png(0), t("10:00")), (2L, png(50), t("10:01")),
        (3L, png(0).reverse.map(b => (b ^ 0x5a).toByte), t("10:02")))
      q.processAllAvailable()
      val got1 = spark.sql("SELECT media_id FROM img_dedup_out")
        .as[Long].collect().toSet
      assert(got1 === Set(1L), got1.toString)
      // within the horizon another copy still drops
      mem.addData(Seq((4L, png(50), t("10:05"))))
      q.processAllAvailable()
      assert(spark.sql("SELECT media_id FROM img_dedup_out")
        .as[Long].collect().toSet === Set(1L))
      // past the watermark the key evicts and a copy re-admits — the
      // TTL semantics, same as the exact-text streaming dedup
      mem.addData(Seq((5L, png(25), t("10:40"))))
      q.processAllAvailable()
      mem.addData(Seq((6L, png(50), t("10:41"))))
      q.processAllAvailable()
      val finalIds = spark.sql("SELECT media_id FROM img_dedup_out")
        .as[Long].collect().toSet
      assert(finalIds.contains(6L), s"evicted key did not re-admit: $finalIds")
    } finally q.stop()
  }

}
