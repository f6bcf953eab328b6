package graft.tools

import graft.{Bench, SparkEntry}
import graft.ops.JobMeter

/** Dev probe for the composed LLM-ingest tick (the `llm_ingest` bench
  * entry): runs [[graft.Bench.LlmTick]] once to warm up, then once under
  * a [[graft.ops.JobMeter]], and prints the wall time and description of
  * every Spark job the timed region started, plus the tick total — the
  * per-stage breakdown the opaque bench number cannot give. A listener-bus
  * drain that times out fails the probe. Not part of the driver contract.
  *
  * Usage: sbt "Test/runMain graft.tools.IngestProbe [sfDir]"
  * (cores from SPARK_GRAFT_CPUS, default 32)
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession("graft-ingest-probe", SparkEntry.cpus(32))

    val tick = new Bench.LlmTick(spark, sfDir)
    tick() // warm-up: codegen + catalog DDL first-run costs
    var (wall, timedFrom) = (0.0, 0L)
    val jobs = JobMeter.measure(spark) {
      wall = tick(() => timedFrom = System.currentTimeMillis())
    }.jobs.filter(_.startMs >= timedFrom)
    def secs(j: JobMeter.Job) = (j.endMs - j.startMs) / 1e3
    println(f"[ingest-probe] tick wall: $wall%.2f s over ${jobs.length} jobs, " +
      f"job-time sum ${jobs.map(secs).sum}%.2f s (sf=$sfDir)")
    jobs.foreach { j =>
      val p = j.properties
      val d = Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short"))).getOrElse("?")
      println(f"[ingest-probe] job ${j.id}%4d ${secs(j)}%7.3f s  $d")
    }
    spark.stop()
  }
}
