package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.{Bench, SparkEntry}

/** Dev probe for the composed LLM-ingest tick (the `llm_ingest` bench
  * entry): runs [[graft.Bench.LlmTick]] once to warm up, then once with
  * a job listener attached, and prints every Spark job's wall time and
  * description, plus the tick total — the per-stage breakdown the
  * opaque bench number cannot give. Not part of the driver contract.
  *
  * Usage: sbt "Test/runMain graft.tools.IngestProbe [sfDir]"
  * (cores from SPARK_GRAFT_CPUS, default 32)
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession("graft-ingest-probe", SparkEntry.cpus(32))

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

    val tick = new Bench.LlmTick(spark, sfDir)
    tick() // warm-up: codegen + catalog DDL first-run costs
    val wall = tick(() => doneJobs.clear())
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
