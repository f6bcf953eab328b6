package graft

import graft.lake.FooterParquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided testdata tables (TESTDATA.md).
  *
  * Parquet written by pyarrow carries timestamp columns as
  * isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ. We cast
  * those to TIMESTAMP (session tz is pinned UTC everywhere) so that all
  * timestamp arithmetic matches the DuckDB oracle, which treats the same
  * columns as naive timestamps.
  *
  * `events.ts` is TIMESTAMP(MICROS) in every fixture scale and in
  * perfbench's generated tables. A writer that keeps nanoseconds stores
  * it as TIMESTAMP(NANOS), which Spark refuses to read natively; such a
  * column is read as a nanosecond long (legacy flag) and integer-divided
  * to microseconds — what DuckDB does when it truncates nanos.
  *
  * Schemas come from one footer read on the driver
  * ([[FooterParquet]]), so a load runs no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Column that may be nanosecond-precision in a table's file. */
  private val nanosCols = Map("events" -> Set("ts"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = FooterParquet.reader(spark).load(s"$dir/$name.parquet")
    val nanos = nanosCols.getOrElse(name, Set.empty)
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case TimestampNTZType => col(f.name).cast(TimestampType).as(f.name)
        case LongType if nanos(f.name) =>
          expr(s"timestamp_micros(${f.name} div 1000)").as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
