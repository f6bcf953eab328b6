package graft.tools

import java.sql.Date

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Dev probe for the composed LLM-ingest tick (the `llm_ingest` bench
  * entry): runs ONE maximal DailyIngest.run at the given SF with a
  * job listener attached and prints every Spark job's wall time and
  * description, plus the tick total — the per-stage breakdown the
  * opaque bench number cannot give. Not part of the driver contract
  * (the [[MicroBench]] class of tool).
  *
  * Usage: runMain graft.tools.IngestProbe [sfDir] [cpus]
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = if (args.length > 1) args(1) else "32"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ingest-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val doneJobs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time,
          Option(j.properties.getProperty("spark.job.description"))
            .orElse(Option(j.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(j.jobId)
        if (st != null)
          doneJobs.add((j.jobId, (j.time - st._1) / 1e3, st._2))
      }
    })

    val docsRaw = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val docs = docsRaw.join(emb, docsRaw("doc_id") === emb("vec_id"), "left")
      .select(col("doc_id"), col("text"), col("lang"),
        coalesce(col("embedding"),
          expr("transform(sequence(0, 63), j -> cos(doc_id * (j + 1)))"))
          .as("emb"))
    val model = graft.functions.QualityClassifier.train(
      docsRaw, "text", col("source").isin("src0", "src1", "src2", "src3"))
    val bench = docsRaw.filter(col("doc_id") % 251 === 0).select(col("text"))

    def tick(n: Int): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("probe_llm").toString
      val lake = new graft.lake.Lake(spark, s"$tmp/lake")
      val ds = s"probe_llm_$n"
      val dd = new graft.lake.CorpusDedup(spark, lake, ds, numBuckets = 8)
      val cp = new graft.lake.CorpusPack(spark,
        new graft.state.StateStore(spark, s"$tmp/state"), ds,
        budgetTokens = 8192L)
      val idx = new graft.lake.AnnIndex(spark, lake, ds, numBuckets = 8)
      val out = graft.lake.TableRef("bench", ds, "packed")
      dd.commitTestShingles(bench, "text", Date.valueOf("2024-02-28"))
      // steady-state semantic gate (mirror of the llm_ingest bench
      // setup): a day of synthetic history makes the tick probe the
      // dated index, not the day-one pairwise bootstrap
      idx.buildDated(spark.range(2000).select(
          (col("id") + 1000000L).as("doc_id"),
          expr("transform(sequence(0, 63), j -> sin((id + 7) * (j + 1)))")
            .as("emb")),
        "doc_id", "emb", k = 8, Date.valueOf("2024-02-28"))
      doneJobs.clear()
      val t0 = System.nanoTime()
      graft.tools.DailyIngest.run(lake, dd, cp, out, docs,
        "doc_id", "text", "lang",
        Date.valueOf("2024-03-01"), ttlDays = 30,
        ann = Some((idx, "emb")), semanticThreshold = Some(0.95),
        qualityGate = Some(model),
        nearDupVerify = Some(0.75), lineScrub = true, decontam = true,
        vocab = graft.functions.UnigramVocab.default,
        repetitionRules = true)
      (System.nanoTime() - t0) / 1e9
    }

    // `mb` mode: bisect the micro_batch slowdowns seen in full bench
    // sessions — ticks on a fresh session, then after one headline
    // pass, then again (distinguishes session-history pollution from
    // ambient host noise)
    if (args.length > 2 && args(2) == "mb") {
      def microBatch(): Double = {
        val tmp = java.nio.file.Files.createTempDirectory("probe_mb").toString
        val lake = new graft.lake.Lake(spark, tmp)
        val log = new graft.lake.CaptureLog(spark, lake)
        val cap = new graft.streaming.Capture(spark, lake, log,
          graft.streaming.CaptureConfig("bench", "events",
            pk = Seq("event_id"), tsCol = "ts"))
        val raw = Tables.load(spark, sfDir, "events")
        val t0 = System.nanoTime()
        cap.processBatch(raw, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 5).foreach(i => println(f"[ingest-probe] mb-fresh tick$i: ${microBatch()}%.3f s"))
      graft.Bench.headline.filter(graft.SparkEntry.queries.contains).foreach {
        n => graft.SparkEntry.queries(n)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
      }
      (1 to 3).foreach(i => println(f"[ingest-probe] mb-after-headline tick$i: ${microBatch()}%.3f s"))
      spark.stop()
      return
    }

    // `stages` mode: time the commit-path building blocks in isolation
    // (the tick showed one 21.6 s write job at sf0.1 — this splits it)
    if (args.length > 2 && args(2) == "stages") {
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def time(name: String)(f: => Unit): Unit = (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        f
        println(f"[ingest-probe] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      // production shape (DailyIngest's gateOnce form); the direct-vs-
      // gateOnce A/B below isolates the difference
      val admitted = docs
        .filter(graft.functions.TextOps.gateOnce(
          graft.functions.TextOps.repetitionStats(col("text")),
          graft.functions.TextOps.repetitionKeep) === 1)
        .filter(round(model.scoreCol(col("text")), 4) > 0.0)
      time("docs scan+join+synthEmb")(noop(docs))
      time("+ repetition gate")(noop(docs.filter(
        graft.functions.TextOps.repetitionKeep(
          graft.functions.TextOps.repetitionStats(col("text"))) === 1)))
      time("+ repetition gate (gateOnce)")(noop(docs.filter(
        graft.functions.TextOps.gateOnce(
          graft.functions.TextOps.repetitionStats(col("text")),
          graft.functions.TextOps.repetitionKeep) === 1)))
      time("+ quality gate (admitted)")(noop(admitted))
      time("admitted -> md5 distinct")(noop(
        admitted.select(md5(col("text")).as("content_hash")).distinct()))
      // plan evidence for plans/r17: the direct gate filter carries one
      // kernel copy per referenced rule; the gateOnce form binds it once
      def dumpPlan(path: String, df: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      dumpPlan("/root/repo/plans/r17/llm_ingest_repetition_gate_before.txt",
        docs.filter(graft.functions.TextOps.repetitionKeep(
          graft.functions.TextOps.repetitionStats(col("text"))) === 1))
      dumpPlan("/root/repo/plans/r17/llm_ingest_repetition_gate_after.txt",
        docs.filter(graft.functions.TextOps.gateOnce(
          graft.functions.TextOps.repetitionStats(col("text")),
          graft.functions.TextOps.repetitionKeep) === 1))
      time("full commitExactDated") {
        val tmp = java.nio.file.Files.createTempDirectory("probe_cx").toString
        val lake = new graft.lake.Lake(spark, s"$tmp/lake")
        val dd = new graft.lake.CorpusDedup(spark, lake,
          s"probe_cx_${System.nanoTime()}", numBuckets = 8)
        dd.commitExactDated(admitted, "text",
          Date.valueOf("2024-03-01"), Date.valueOf("2024-01-31"))
      }
      spark.stop()
      return
    }

    tick(0) // warm-up: codegen + catalog DDL first-run costs
    val wall = tick(1)
    Thread.sleep(500) // let listener events drain
    val rows = doneJobs.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
    println(f"[ingest-probe] tick wall: $wall%.2f s over ${rows.length} jobs, " +
      f"job-time sum ${rows.map(_._2).sum}%.2f s (sf=$sfDir)")
    rows.foreach { case (id, s, d) =>
      println(f"[ingest-probe] job $id%4d $s%7.3f s  $d")
    }
    spark.stop()
  }
}
