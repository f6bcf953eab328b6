package graft.streaming

import java.sql.Timestamp

import graft.lake.{CaptureLog, Lake, TableRef}
import graft.transforms.{Clean, Nest}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * ticks, so idempotency needs the tick level), and the streaming
  * path derives each batch's capture timestamp from a write-once state
  * file keyed by batchId, so a checkpoint REPLAY of the same batch
  * re-lands the identical partitions instead of duplicating — the
  * prefix-integrity + idempotent-sink recipe of Armbrust et al.,
  * "Structured Streaming: A Declarative API for Real-Time Applications
  * in Apache Spark" (SIGMOD 2018). (The first cut stamped wall-clock
  * time per attempt and APPENDED staging — a crash between the staging
  * land and the checkpoint commit duplicated rows; review-found.)
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

  /** Raw-zone write, idempotent per capture tick: the reference replaces
    * same-named raw files on re-upload (utils/dump_db/tasks.py:400-435),
    * and the Spark equivalent is a per-tick partition dynamically
    * overwritten — a retried tick (after a downstream failure marked its
    * log row failed) lands exactly once instead of appending duplicates. */
  private def writeRaw(stamped: DataFrame): Unit =
    lake.overwritePartitions(
      stamped
        .withColumn("data", date_format(col(cfg.tsCol), "yyyy-MM-dd"))
        .withColumn("tick",
          date_format(col("timestamp_captura"), "yyyyMMddHHmmss")),
      TableRef("raw", cfg.dataset, cfg.table), partitionBy = Seq("data", "tick"))

  /** Staging land, idempotent per tick: the hour partition is shared
    * by ~60 ticks, so an APPEND there cannot be replay-safe — the tick
    * sub-partition (derived from timestamp_captura, stable across
    * replays of the same batch) gives each capture its own overwrite
    * unit while (data, hora) readers see the union transparently. */
  private def writeStaging(treated: DataFrame): Unit =
    lake.overwritePartitions(
      treated.withColumn("tick",
        date_format(col("timestamp_captura"), "yyyyMMddHHmmss")),
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

  /** Deterministic capture timestamp for a streaming batch: the FIRST
    * attempt records wall-clock time into a write-once file keyed by
    * batchId (atomic create-if-absent); a checkpoint replay reads the
    * SAME value back, so every partition the replay lands overwrites
    * its predecessor instead of duplicating under a fresh timestamp.
    * The tick files live beside the other state tables and are
    * tick-sized.
    *
    * Crash-atomicity (review-found): the value is written to a TEMP
    * file and committed by a NO-OVERWRITE rename
    * (`FileContext.rename` without `Options.Rename.OVERWRITE` —
    * atomic and dest-must-not-exist on HDFS and the local FS). A
    * crash mid-write leaves only a temp file, never an empty/partial
    * tick at the final path, AND a late racer's rename cannot replace
    * a tick another attempt already returned and landed partitions
    * under (a plain overwrite-rename lost that single-winner
    * property: racer A could read back t_A, land partitions, then
    * racer B's rename overwrote with t_B — two attempts of one
    * batchId with different ticks; review-found). The rename loser
    * deletes its temp and reads the winner.
    *
    * Heal on the READ side: a ZERO-LENGTH tick is treated as ABSENT —
    * healed and re-created, with a RE-READ before the delete (narrowing
    * the heal/commit race to two adjacent reads; a racer's commit
    * between them survives). This writer produces that state: the temp
    * is written and closed without `hsync` before its rename, so a host
    * crash after the rename can persist the rename but not the bytes,
    * leaving the committed name empty. A torn NON-EMPTY tick has no
    * innocent producer (a tick's 13-14 bytes sit in one block, which a
    * crash keeps or loses whole), so it surfaces LOUDLY instead of
    * being silently re-minted — re-minting could replace a tick another
    * attempt already landed partitions under (the r13/r14 residual
    * TOCTOU, now closed for data-carrying files: only empty files are
    * ever deleted). Reads
    * carry no exists() pre-check — a concurrent heal deleting the
    * file between exists and open would turn FileNotFoundException
    * into a micro-batch failure, so open's FileNotFoundException IS
    * the absent signal. Temps leaked by a crash between create and
    * rename are swept before any new mint (best-effort, ALL batchIds
    * — a same-batch-only sweep would never revisit an orphan younger
    * than its own batch's commit — and only temps OLDER than a minute
    * go: a live concurrent attempt holds its temp for milliseconds,
    * so the age guard keeps the sweep from deleting an in-flight
    * racer's file and starving both attempts; both review-found).
    * Stores with no FileContext binding fall
    * back to FileSystem.rename with read-back-the-winner — the
    * pre-hardening semantics, kept working rather than wedging the
    * stream on UnsupportedFileSystemException (review-found). */
  private[graft] def tickFor(batchId: Long): Timestamp = {
    import org.apache.hadoop.fs.{FileContext, Path}
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(
      lake.path(TableRef("state", cfg.dataset, s"${cfg.table}_ticks")))
    val fs = dir.getFileSystem(hconf)
    val f = new Path(dir, batchId.toString)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // resolved ONCE: absence of an AbstractFileSystem binding is a
    // permanent property of the store, not a retryable race
    val fc: Option[FileContext] =
      try Some(FileContext.getFileContext(dir.toUri, hconf))
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None
      }
    // Some(content) = present; None = absent. No exists() pre-check —
    // see Scaladoc.
    def readOnce(): Option[String] =
      try {
        val in = fs.open(f)
        Some(try new String(in.readAllBytes(), utf8) finally in.close())
      } catch { case _: java.io.FileNotFoundException => None }
    // Plausibility-bounded: ticks are minted from currentTimeMillis, so
    // a committed tick is a 13-14 digit epoch (2001..5138). A PARTIAL
    // NUMERIC PREFIX ("1694" of "1694012345678": external truncation,
    // no writer here leaves one) would otherwise parse as a bogus ~1970
    // tick and silently be accepted — the bound routes it to the same
    // loud path as non-numeric corruption (review-found).
    def parse(s: String): Option[Timestamp] =
      s.trim.toLongOption.filter(ms => ms >= 1000000000000L &&
        ms < 100000000000000L).map(ms => new Timestamp(ms))
    // Some(ts) = committed tick; None = absent (after healing an empty
    // file). Healing is restricted to ZERO-LENGTH files — the one state
    // a crashed writer leaves at the final path on a supported store (an
    // unsynced temp renamed in, then a host crash before its bytes
    // reached disk). A torn NON-EMPTY tick therefore has no innocent
    // explanation — silently re-minting it could replace a tick another
    // attempt already landed partitions under, so it surfaces LOUDLY
    // and an operator decides. This closes the r13/r14 heal-race
    // window for data-carrying files: only empty files are ever
    // deleted.
    def tryRead(): Option[Timestamp] = readOnce() match {
      case None => None
      case Some(s) => parse(s).orElse {
        if (s.nonEmpty)
          throw new java.io.IOException(
            s"tick file $f holds unparseable non-empty content " +
              s"(${s.length} bytes) — refusing to heal: no writer in " +
              "this protocol produces a torn committed tick, so this is " +
              "external corruption; inspect and remove the file manually")
        // empty: re-read before deleting (narrows the heal/commit race
        // to two adjacent reads; a racer's commit between them survives)
        readOnce() match {
          case Some(s2) if parse(s2).isDefined => parse(s2)
          case Some(s2) if s2.isEmpty => fs.delete(f, false); None
          case Some(s2) => throw new java.io.IOException(
            s"tick file $f holds unparseable non-empty content " +
              s"(${s2.length} bytes) — refusing to heal")
          case None => None
        }
      }
    }
    def acquire(attempts: Int): Timestamp = {
      if (attempts <= 0)
        throw new java.io.IOException(s"tick file $f: could not commit")
      tryRead().getOrElse {
        fs.mkdirs(dir)
        // sweep crash-orphaned temps of EVERY batchId — a temp younger
        // than its own batch's commit would never be revisited by a
        // same-batch sweep (the sweep only runs while a tick is absent,
        // and after the commit it never is again), so scoping the glob
        // per batchId leaked young orphans forever (review-found).
        // Age-guarded so a LIVE racer's in-flight temp (held for
        // milliseconds, any batchId) is never deleted.
        val now0 = System.currentTimeMillis()
        val stale = try fs.globStatus(new Path(dir, ".*.tmp"))
        catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
        Option(stale).getOrElse(Array.empty)
          .filter(st => now0 - st.getModificationTime > 60000L)
          .foreach { st =>
            try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => () }
          }
        val now = System.currentTimeMillis()
        val tmp = new Path(dir,
          s".$batchId.${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, true)
        try out.write(now.toString.getBytes(utf8))
        finally out.close()
        val won = fc match {
          // single-winner commit: atomic, fails if the destination exists
          case Some(c) =>
            try { c.rename(tmp, f); true }
            catch { case _: java.io.IOException => false }
          // no-FileContext store: plain rename + read-back-the-winner
          // (may overwrite on POSIX local — the weaker pre-hardening
          // contract, strictly better than wedging the stream)
          case None =>
            try fs.rename(tmp, f)
            catch { case _: java.io.IOException => false }
        }
        if (!won) {
          try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        }
        acquire(attempts - 1)
      }
    }
    acquire(attempts = 5)
  }

  /** T1: continuous capture from any streaming source. The batch's
    * capture timestamp comes from [[tickFor]], so a checkpoint replay
    * of the same batchId re-lands identical partitions (T5). */
  def start(source: DataFrame, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, tickFor(batchId))
      }
      .start()
}
