package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Relational, Scalars, TrainingData, Windowed}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator query family; each entry in [[queries]] has a
  * DuckDB-equivalent oracle in [[oracleSql]] unless the operator is not
  * SQL-expressible (driver then records a rows-only check).
  */
object SparkEntry {

  private val families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.defs, Relational.oracles),
      (Windowed.defs, Windowed.oracles),
      (Scalars.defs, Scalars.oracles),
      (TrainingData.defs, TrainingData.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.defs("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.iterator.map(_._2).reduce(_ ++ _)

  /** The one local-mode session every graft main and the test suite
    * build: `local[cpus]` with as many shuffle partitions, UTC session
    * time zone, no UI, WARN logging. `DailyIngest.main` alone builds its
    * own, because its master and Hive metastore are deployment settings. */
  def localSession(appName: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else `default`. A
    * value that is not a positive integer fails here, naming the
    * variable, rather than later as a malformed `local[...]` master. */
  def cpus(default: Int, env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
}
