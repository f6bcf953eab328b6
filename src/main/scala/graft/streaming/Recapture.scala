package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Late-data recovery planner (SURVEY §2.9 T4 — `query_logs`,
  * rj_smtr/tasks.py:437-558).
  *
  * Builds the minute spine over the lookback window on the driver,
  * collects the minutes of the window's successful capture log rows in
  * one Spark job, and returns the spine minutes missing from them capped
  * at `maxRecaptures` (90 in the reference; overflow is the caller's
  * alert). The result feeds Trigger.AvailableNow backfill runs.
  */
object Recapture {

  final case class Plan(timestamps: Seq[Timestamp], overflowed: Boolean)

  /** Missed capture minutes in (now − lookbackDays, now], oldest first.
    * The spine runs from the lookback start in `intervalMinutes` steps up
    * to `now`. A spine minute counts as captured when a `sucesso` row's
    * `timestamp_captura`, truncated to its minute in the session time
    * zone, equals it; only rows in [spine start, last spine minute + 1
    * minute) can, so the one job collects at most the window's log rows
    * (~1.4k per source-day at a 1-minute cadence). */
  def plan(spark: SparkSession, logs: DataFrame, now: Timestamp,
           intervalMinutes: Int = 1, lookbackDays: Int = 1,
           maxRecaptures: Int = 90): Plan = {
    val step = intervalMinutes * 60
    val startSec = (now.getTime / 1000 - lookbackDays * 86400L) / step * step
    val spine = startSec * 1000 to now.getTime by step * 1000L // epoch ms
    val ok = logs
      .filter(col("sucesso") === true &&
        col("timestamp_captura") >= new Timestamp(spine.head) &&
        col("timestamp_captura") < new Timestamp(spine.last + 60000L))
      .select(unix_micros(date_trunc("minute", col("timestamp_captura"))))
      .collect().map(_.getLong(0) / 1000).toSet
    val missed = spine.iterator.filterNot(ok).take(maxRecaptures + 1)
      .map(new Timestamp(_)).toIndexedSeq
    Plan(missed.take(maxRecaptures), overflowed = missed.size > maxRecaptures)
  }

  /** True when ANY capture minute in the lookback window is still
    * missing from the logs — the materialization gate's input
    * (rj_smtr/flows.py:225-236: `query_logs` over each source table →
    * `check_mapped_query_logs_output` → materialize only when False).
    * Existence check only: a plan capped at one minute, so gating a
    * 1-minute tick costs the plan's one small job (the collect of the
    * window's successful log minutes) and no schema inference job.
    *
    * ORDERING CONTRACT (correctness, not convenience): within a tick the
    * scheduler must run capture for minute `now` BEFORE this gate, as the
    * reference's orchestration does — the spine deliberately includes
    * `now` because the materialization window ends at `now`. Gating only
    * on older minutes would NOT fix an out-of-order scheduler: a capture
    * for `now` landing after materialization writes rows the already-
    * advanced watermark never re-reads, and by the next tick the log
    * shows the minute present, so nothing would ever re-gate it. */
  def pending(spark: SparkSession, logs: DataFrame, now: Timestamp,
              intervalMinutes: Int = 1, lookbackDays: Int = 1): Boolean =
    plan(spark, logs, now, intervalMinutes, lookbackDays,
      maxRecaptures = 1).timestamps.nonEmpty

  /** Plan + execute in one call: the missed minutes are fetched through
    * `fetch` (the source's bounded window read) and land through
    * [[Capture.processBackfill]] as a single job. Returns the executed
    * plan so the caller can alert on overflow. */
  def backfill(spark: SparkSession, cap: Capture, logs: DataFrame,
               now: Timestamp, fetch: Timestamp => DataFrame,
               intervalMinutes: Int = 1, lookbackDays: Int = 1,
               maxRecaptures: Int = 90): Plan = {
    val p = plan(spark, logs, now, intervalMinutes, lookbackDays, maxRecaptures)
    cap.processBackfill(p.timestamps.map(ts => ts -> fetch(ts)))
    p
  }
}
