package graft.streaming

import java.sql.Timestamp

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.transforms.{Clean, Nest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Micro-batch capture pipeline (SURVEY §3.2, §2.9 T1–T5).
  *
  * The reference's default_capture_flow per tick: fetch raw → save raw
  * verbatim → treat (stamp timestamp_captura, strip strings, nest to
  * pk+content) → staging append → `_logs` row
  * (rj_smtr/flows.py:46-194, rj_smtr/tasks.py:1403-1505).
  *
  * Spark shape: one Structured Streaming query per source with
  * `foreachBatch` doing (raw land ‖ treat → staging land) → log append.
  * The checkpoint gives exactly-once batch tracking; BOTH zone writes
  * are per-tick dynamic partition OVERWRITES (raw on (data, tick),
  * staging on (data, hora, tick) — hour partitions are shared by ~60
  * ticks, so idempotency needs the tick level; the tick is the capture
  * timestamp to the millisecond), and the streaming path stamps each
  * batch with the batch timestamp Spark's offset log records ahead of
  * it, so a checkpoint REPLAY of the same batch re-reads that stamp and
  * re-lands the identical partitions instead of duplicating — the
  * write-ahead-log + idempotent-sink recipe of Armbrust et al.,
  * "Structured Streaming: A Declarative API for Real-Time Applications
  * in Apache Spark" (SIGMOD 2018). (A stamp taken from the wall clock
  * per attempt would land a replay under a fresh tick, beside the
  * first attempt's rows.)
  *
  * Commit order per tick: the raw and staging zone writes run
  * CONCURRENTLY (neither reads the other, and each is an idempotent
  * per-tick overwrite), and the `_logs` row is written LAST, only after
  * both have returned — so a success row always means both zones
  * landed, and a failure row is never written while a zone write is
  * still running. Each write mostly waits on file creates and renames,
  * so running them side by side (the multi-sink `foreachBatch` pattern
  * of the same paper) uses cores that would otherwise sit idle.
  *
  * A driver-held batch (a fetched payload built from local rows, see
  * [[graft.lake.Lake]]) stays driver-held through the stamp and treat
  * projections, so both zone writes and the log row are written on the
  * driver with no Spark job, each committed as Spark's own writer would
  * (staged files, then renames). A scan-backed batch (a `foreachBatch`
  * micro-batch over a file source) is a Spark write per zone.
  */
final case class CaptureConfig(dataset: String, table: String,
                               pk: Seq[String], tsCol: String)

class Capture(spark: SparkSession, lake: Lake, log: CaptureLog,
              cfg: CaptureConfig) {

  /** The per-capture partition column of both zones: `timestamp_captura`
    * to the millisecond. Captures stamped within one second (an
    * AvailableNow catch-up plans its batches milliseconds apart) each
    * get their own partition, so one's overwrite never deletes
    * another's rows. */
  private def withTick(df: DataFrame): DataFrame =
    df.withColumn("tick", date_format(col("timestamp_captura"), "yyyyMMddHHmmssSSS"))

  /** Raw-zone write, idempotent per capture tick: the reference replaces
    * same-named raw files on re-upload (utils/dump_db/tasks.py:400-435),
    * and the Spark equivalent is a per-tick partition dynamically
    * overwritten — a retried tick (after a downstream failure marked its
    * log row failed) lands exactly once instead of appending duplicates. */
  private def writeRaw(stamped: DataFrame): Unit =
    lake.overwritePartitions(
      withTick(stamped.withColumn("data", date_format(col(cfg.tsCol), "yyyy-MM-dd"))),
      TableRef("raw", cfg.dataset, cfg.table), partitionBy = Seq("data", "tick"))

  /** Staging land, idempotent per tick: the hour partition is shared
    * by ~60 ticks, so an APPEND there cannot be replay-safe — the tick
    * sub-partition (derived from timestamp_captura, stable across
    * replays of the same batch) gives each capture its own overwrite
    * unit while (data, hora) readers see the union transparently. */
  private def writeStaging(treated: DataFrame): Unit =
    lake.overwritePartitions(
      withTick(treated),
      TableRef("staging", cfg.dataset, cfg.table),
      partitionBy = Seq("data", "hora", "tick"))

  /** The reference's treat step: strip strings, nest every non-pk
    * column into the `content` JSON and add the (data, hora) staging
    * partitions. */
  private def treat(stamped: DataFrame): DataFrame =
    Nest.toContent(Clean.trimStrings(stamped),
        pk = cfg.pk :+ "timestamp_captura")
      .withColumn("data", date_format(col("timestamp_captura"), "yyyy-MM-dd"))
      .withColumn("hora", date_format(col("timestamp_captura"), "HH"))

  /** Lands `stamped` in both zones: [[writeRaw]] on a thread started for
    * this call, treat + [[writeStaging]] on the calling thread, and the
    * raw thread joined before this returns or throws — also when the
    * treat step fails, so raw lands verbatim even for a payload that
    * cannot be treated (the reference keeps the raw file when its
    * transform task fails).
    *
    * A fresh `Thread` per call, not a pool: a new thread copies the
    * SparkContext's inheritable local properties (job group, scheduler
    * pool, and inside `foreachBatch` the streaming and SQL execution
    * ids) when it is created, so `cancelJobGroup` and
    * `StreamingQuery.stop` cancel the raw write too and its jobs are
    * attributed to the caller's. A pooled thread would carry whatever
    * its first caller set.
    *
    * The thread pays off for driver-held batches too, whose writes run
    * no job: their two driver writes still overlap. Landing raw, then
    * treat + staging, on one thread made a `capture_ticks` minute
    * ~31 ms slower (`op_p50_s` 0.0946 → 0.1256 s in 10 alternating
    * 5-s pairs on 4 cores, slower in 9 of 10).
    *
    * Errors: the failing write's error is rethrown; when both fail, the
    * calling thread's (treat or staging) error is rethrown with the raw
    * error attached via `addSuppressed`. */
  private def landZones(stamped: DataFrame): Unit = {
    var rawErr: Throwable = null
    val raw = new Thread(() =>
      try writeRaw(stamped) catch { case t: Throwable => rawErr = t },
      s"capture-raw-${cfg.dataset}.${cfg.table}")
    raw.start()
    try writeStaging(treat(stamped))
    catch {
      case e: Throwable =>
        joinUninterruptibly(raw)
        if (rawErr != null) e.addSuppressed(rawErr)
        throw e
    }
    joinUninterruptibly(raw)
    if (rawErr != null) throw rawErr
  }

  /** An interrupt (e.g. `StreamingQuery.stop`) must not let the caller
    * go on to its log write while the raw write still runs; the raw
    * write's jobs are cancelled with the caller's job group, so the
    * wait is short. The interrupt is re-asserted afterwards. */
  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Records a failed tick's log rows without masking `e`: a log write
    * that throws too is attached to `e` as suppressed, and `e` is what
    * the caller sees. */
  private def logFailure(e: Exception)(record: => Unit): Nothing = {
    try record
    catch { case logErr: Exception => e.addSuppressed(logErr) }
    throw e
  }

  /** The per-micro-batch body — usable directly for batch captures and
    * from foreachBatch for streaming ones. */
  def processBatch(raw: DataFrame, captureTs: Timestamp): Unit =
    land(Seq(captureTs -> raw), recaptured = false)

  /** T4: execute a recapture backfill as ONE job, not one job per missed
    * minute (the Trigger.AvailableNow shape of a batch backfill); each
    * recovered minute still gets its own `[recapturado]` log row. */
  def processBackfill(windows: Seq[(Timestamp, DataFrame)]): Unit =
    if (windows.nonEmpty) land(windows, recaptured = true)

  /** Stamps every window's rows with its own timestamp_captura and lands
    * the union once in both zones, concurrently ([[landZones]]; cancelling
    * the caller's job group or stopping the stream stops both). Only then
    * are the windows' log rows written, in one write: success rows once
    * both zones landed, else failure rows carrying the error. Both zone
    * writes are per-tick overwrites, so a retried tick or backfill
    * replaces its partitions instead of duplicating them. */
  private def land(windows: Seq[(Timestamp, DataFrame)], recaptured: Boolean): Unit = {
    // The batch feeds TWO writes (raw + staging); cache it so the source
    // is scanned once per tick, not once per sink.
    val stamped = windows.map { case (ts, df) =>
      df.withColumn("timestamp_captura", lit(ts))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ticks = windows.map(_._1)
    try {
      landZones(stamped)
      log.appendAll(cfg.dataset, cfg.table, ticks, success = true, recaptured = recaptured)
    } catch {
      case e: Exception => logFailure(e) {
        log.appendAll(cfg.dataset, cfg.table, ticks, success = false,
          error = Some(e.getMessage), recaptured = recaptured)
      }
    } finally stamped.unpersist(blocking = false)
  }

  /** T1: continuous capture from any streaming source. Each batch is
    * stamped with the `batchTimestampMs` that Spark wrote to the
    * checkpoint's offset log before the batch ran. A restart re-runs an
    * uncommitted batch under the metadata logged for it, so the replay
    * lands under the same stamp and overwrites the first attempt's
    * partitions (T5). A batch with no logged metadata fails: a wall-clock
    * stamp would land a replay beside its first attempt. */
  def start(source: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery = {
    val offsets = new OffsetSeqLog(spark, s"$checkpoint/offsets")
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val logged = offsets.offsetSeqMetadataForBatchId(batchId).getOrElse(
          throw new IllegalStateException(
            s"checkpoint $checkpoint has no offset-log metadata for batch $batchId"))
        processBatch(batch, new Timestamp(logged.batchTimestampMs))
      }
      .start()
  }
}
