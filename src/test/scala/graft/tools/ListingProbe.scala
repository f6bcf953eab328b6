package graft.tools

import java.nio.file.{Files, Path, Paths}

import graft.SparkEntry
import graft.lake.{Lake, TableRef}
import graft.ops.JobMeter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev probe for the listing cost of a lake read: builds a capture's
  * staging layout, `data=/hora=/tick=` with one small parquet file per
  * minute, under `<root>/staging/ds/ticks`, then resolves a read of it
  * with [[graft.lake.Lake.read]] (a driver listing) and with
  * `spark.read.parquet` (Spark's listing, a job once a dir holds more than
  * 32 subdirs), alternating, one warm-up and three timed resolutions each.
  * It prints the median wall time, the jobs and tasks one resolution ran
  * and the files it listed. Not part of the driver contract.
  *
  * Usage: sbt "Test/runMain graft.tools.ListingProbe <root> <days>"
  * (`root` must not exist yet; cores from SPARK_GRAFT_CPUS, default 4)
  */
object ListingProbe {
  /** `days` × 24 × 60 `tick=` dirs under `table`, each holding a copy of
    * one single-row parquet file (`id` INT) written by Spark. */
  def tickTree(spark: SparkSession, table: String, days: Int,
               hours: Int = 24, minutes: Int = 60): Unit = {
    import spark.implicits._
    val template = Files.createTempDirectory("listing-probe")
    try {
      Seq(1).toDF("id").coalesce(1).write.parquet(template.resolve("one").toString)
      val file = Files.list(template.resolve("one"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      for (d <- 0 until days; h <- 0 until hours; m <- 0 until minutes) {
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
        val tick = f"${day.toString.replace("-", "")}$h%02d$m%02d00000"
        val dir: Path = Paths.get(table, s"data=$day", f"hora=$h%02d", s"tick=$tick")
        Files.createDirectories(dir)
        Files.copy(file, dir.resolve("part-00000.parquet"))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(template.toFile)
  }

  def main(args: Array[String]): Unit = {
    val Array(root, days) = args
    val spark = SparkEntry.localSession("graft-listing-probe", SparkEntry.cpus(4))
    val lake = new Lake(spark, root)
    val ref = TableRef("staging", "ds", "ticks")
    tickTree(spark, lake.path(ref), days.toInt)
    val sides = Seq[(String, () => DataFrame)](
      "Lake.read" -> (() => lake.read(ref)),
      "spark.read.parquet" -> (() => spark.read.parquet(lake.path(ref))))
    // one warm-up round, then three timed rounds, the sides alternating
    val runs = (0 to 3).flatMap(round => sides.map { case (name, read) =>
      var files = 0
      val t0 = System.nanoTime()
      val m = JobMeter.measure(spark) { files = read().inputFiles.length }
      (round, name, (System.nanoTime() - t0) / 1e9, m.jobs.size,
        m.stages.map(_.numTasks).sum, files)
    }).filter(_._1 > 0)
    println(s"[listing-probe] $days day(s), ${days.toInt * 1440} tick dirs, " +
      s"${spark.sparkContext.defaultParallelism} cores")
    println("| read | wall s (median of 3) | jobs | tasks | files |")
    println("|---|---|---|---|---|")
    sides.foreach { case (name, _) =>
      val mine = runs.filter(_._2 == name)
      val wall = mine.map(_._3).sorted.apply(1)
      println(f"| $name | $wall%.2f | ${mine.head._4} | ${mine.head._5} | ${mine.head._6} |")
    }
    spark.stop()
  }
}
