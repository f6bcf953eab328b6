package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession

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
  *   runMain graft.tools.Refit [srcDir outDir splits]
  *   SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_CPUS=8|32 runMain graft.Bench
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
