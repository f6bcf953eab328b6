package graft.lake

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Capture-log table `{table}_logs` (SURVEY §1.1, §2.2 K10, FIXTURES §5).
  *
  * Schema: timestamp_captura TIMESTAMP, sucesso BOOLEAN, erro STRING,
  * partitioned by data=YYYY-MM-DD (rj_smtr/utils.py:939-1006). This is
  * the source of truth for completeness: the recapture planner
  * spine-joins against it (rj_smtr/tasks.py:476-530).
  */
class CaptureLog(spark: SparkSession, lake: Lake) {
  import spark.implicits._

  def ref(dataset: String, table: String): TableRef =
    TableRef("staging", dataset, s"${table}_logs")

  /** One log row per capture tick. A recaptured tick is marked
    * `[recapturado]` in `erro` even on success — the reference stamps
    * the marker unconditionally on backfilled rows so completeness
    * audits can tell first-try from recovered minutes. */
  def append(dataset: String, table: String, capturedAt: Timestamp,
             success: Boolean, error: Option[String] = None,
             recaptured: Boolean = false): Unit =
    appendAll(dataset, table, Seq(capturedAt), success, error, recaptured)

  /** One log row per tick in `capturedAt`, all with the same outcome,
    * landed in one write (a backfill's recovered minutes). */
  def appendAll(dataset: String, table: String, capturedAt: Seq[Timestamp],
                success: Boolean, error: Option[String] = None,
                recaptured: Boolean = false): Unit = {
    val err = (error, recaptured) match {
      case (Some(e), true) => Some(s"[recapturado] $e")
      case (None, true) => Some("[recapturado]")
      case (other, false) => other
    }
    val rows = capturedAt.map(ts => (ts, success, err.orNull))
      .toDF("timestamp_captura", "sucesso", "erro")
      .withColumn("data", date_format($"timestamp_captura", "yyyy-MM-dd"))
    lake.append(rows, ref(dataset, table), partitionBy = Seq("data"))
  }

  def read(dataset: String, table: String): DataFrame =
    lake.read(ref(dataset, table))
}
