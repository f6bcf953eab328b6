package graft.tools

import graft.Tables

/** Multi-row-group re-materialization of a fixture dir (dev/probe
  * tool, not part of the driver contract).
  *
  * Every driver-provided fixture table is ONE parquet file with ONE
  * row group, so a scan stage can never split below one task at any
  * `maxPartitionBytes` — scan-heavy queries are single-core in their
  * scan stage ON THE FIXTURE, and the bench's core-count scaling block
  * measures that bound, not the engine (OPTIMIZATION_r17.md "Not yet
  * optimized" #2; VERDICT r17 task #6). This tool rewrites the same
  * rows as `splits`-way parquet so scans parallelize, letting the
  * c8-vs-c32 comparison measure the ENGINE:
  *
  *   sbt "Test/runMain graft.tools.Refit [srcDir outDir splits]"
  *   SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_CPUS=8|32 sbt "runMain graft.Bench"
  *
  * Row ORDER inside each table changes (round-robin repartition);
  * every declared query is order-insensitive (explicit ORDER BY /
  * aggregation semantics), which the oracle gate already pins.
  */
object Refit {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf0.1mf"
    val splits = if (args.length > 2) args(2).toInt else 32
    val spark = graft.SparkEntry.localSession("graft-refit", graft.SparkEntry.cpus(32))
    Tables.names.foreach { name =>
      val df = Tables.load(spark, src, name)
      df.repartition(splits).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      val back = spark.read.parquet(s"$out/$name.parquet")
      println(s"[refit] $name: ${back.count()} rows, " +
        s"${back.rdd.getNumPartitions} scan partitions")
    }
    spark.stop()
  }
}
