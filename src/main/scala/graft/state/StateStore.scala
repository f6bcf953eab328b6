package graft.state

import java.sql.Timestamp

import graft.lake.{DirSwap, DriverRead, DriverWrite, FooterParquet, NioLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Cross-run state (SURVEY §2.9 T6–T8) — the Redis replacement.
  *
  * The reference keeps (a) a last-run timestamp per dataset.table
  * (rj_smtr/utils.py:264-294), (b) per-entity watermarks as a hash
  * {entity → last_update} seeded with 1900-01-01
  * (utils/utils.py:1013-1110), and (c) processed-file sets
  * (rj_smtr/utils.py:335-366). All three become small parquet tables
  * under `root`; update semantics are read-modify-overwrite, which is
  * safe under the one-writer-per-pipeline discipline the reference also
  * assumes (its skip_if_running guard, utils/utils.py:197-231).
  *
  * One on-disk layout: a root this layout owns holds the empty marker
  * file `_graft_state_v1`, created on first open. A root that holds any
  * state kind dir but no marker was written by an older or unknown
  * layout, and opening it throws rather than reading as first-run.
  */
class StateStore(spark: SparkSession, root: String) {
  import spark.implicits._

  val SeedWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  // Presence, not content, is the marker, so a torn create cannot wedge
  // a root; filesystem calls only, once per instance.
  locally {
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConfWithOptions(NioLocalFileSystem.writerOptions))
    val marker = new Path(root, "_graft_state_v1")
    val kinds = Set("last_run", "entity_watermarks", "processed_files", "tables",
      "sketches", "quantile_sketches", "topk_sketches")
    if (!fs.exists(marker)) {
      val found = try fs.listStatus(new Path(root)).map(_.getPath.getName).filter(kinds).sorted
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
      // re-checked: a concurrent first open creates it before any write
      if (found.nonEmpty && !fs.exists(marker))
        throw new IllegalStateException(s"state root $root holds ${found.mkString(", ")} " +
          s"but no ${marker.getName}: it was written by an older or unknown layout")
      try fs.create(marker, false).close()
      catch { case _: FileAlreadyExistsException => () }
    }
  }

  /** Keys are LOGICAL names; nothing on the path side may interpret
    * them. Both Hadoop's globStatus (the orphan-tmp sweep) and Spark's
    * file readers glob-expand their path argument, so a key containing
    * `* ? [ ] { }` (a dbt selector, a bracketed tag) would read/sweep the
    * wrong siblings — or match nothing and silently report first-run.
    * Characters outside a conservative safe set are percent-encoded
    * ('%' itself included, so the mapping is injective and two distinct
    * keys can never collide on one path). */
  private def safeKey(key: String): String =
    key.flatMap { c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-' || c == '=') c.toString
      // UTF-8 byte-wise %XX: FIXED-width hex per byte. (A code-point-wide
      // %X encoding is not injective: "‹" → "%2039" collides with
      // " 39" → "%20" + "39".)
      else c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"%%${b & 0xff}%02X").mkString
    }

  private def keyedPath(dir: String, key: String): String =
    s"$root/$dir/${safeKey(key)}"

  private def runPath(key: String) = keyedPath("last_run", key)
  private def entityPath(key: String) = keyedPath("entity_watermarks", key)
  private def filesPath(key: String) = keyedPath("processed_files", key)
  private def tablePath(key: String) = keyedPath("tables", key)

  /** Generic small-state table under this store (crash-healed read —
    * a writer that died mid-swap is restored before the plan binds).
    * For cursor/config-sized frames that need the same atomic-swap
    * durability as the built-in watermark kinds. */
  def readTable(name: String, schemaDdl: String): DataFrame =
    readOrEmpty(tablePath(name), schemaDdl)

  /** Atomically replace a generic small-state table (tmp → .old swap,
    * same writer discipline as every state kind: one writer per key). */
  def writeTable(name: String, df: DataFrame): Unit =
    writeAtomic(df, tablePath(name))

  private def readOrEmpty(path: String, schemaDdl: String): DataFrame =
    readIfPresent(path, schemaDdl)(FooterParquet.reader(spark).load(path))

  /** [[readOrEmpty]] for the kinds only this store writes (`last_run`
    * and the sketches), whose column types it fixes itself: reading with
    * the declared schema skips parquet schema inference altogether. Kinds
    * whose column types come from caller frames (generic tables, entity
    * watermarks, processed files) infer theirs from one footer read on
    * the driver ([[FooterParquet]]), which runs no Spark job either. */
  private def readOwned(path: String, schemaDdl: String): DataFrame =
    readIfPresent(path, schemaDdl)(
      spark.read.schema(StructType.fromDDL(schemaDdl)).parquet(path))

  private def readIfPresent(path: String, schemaDdl: String)(
      read: => DataFrame): DataFrame = {
    // heal BEFORE the read binds: a merge frame planned over the empty
    // fallback would stay empty after the write's own heal
    DirSwap.heal(spark, path)
    // first-run is decided by PATH ABSENCE, never by swallowing read
    // errors (review-found regression class: a transient storage
    // failure misread as first-run makes the caller's merge+writeAtomic
    // atomically replace live state with only the current batch —
    // silent watermark loss). A real failure on an existing path must
    // propagate; a reader racing writeAtomic's rename pair sees a
    // missing path, which IS the documented first-run-style miss.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType.fromDDL(schemaDdl))
    else read
  }

  /** Read-modify-write by swap ([[DirSwap]], shared with the lake's
    * table rewrites), so a path is never overwritten while a job is still
    * reading it: `df` may lazily READ `path`. A merged frame (entity watermarks, processed files) is written by
    * Spark and never collects to the driver: millions of entities/files
    * stay distributed end-to-end. A driver-held frame (a last-run row, a
    * merged sketch, a local table) is written on the driver with no Spark
    * job ([[DriverWrite]]), in the file layout of a Spark write, `_SUCCESS`
    * last. Safe under the single-writer-per-pipeline discipline (the
    * reference's skip_if_running guard, utils/utils.py:197-231); a reader
    * racing the two renames is a first-run-style miss, not corruption, and
    * a writer that crashes between them is healed on the next read or
    * write of the path. */
  private def writeAtomic(df: DataFrame, path: String): Unit =
    DirSwap.replace(spark, path) { side =>
      // A distributed frame's state rows are tiny (entity + timestamp): 4
      // output files keep the table compact up to ~10^8 entities without a
      // count-then-choose pass. A driver-held frame is one file.
      if (!DriverWrite.intoNewDir(spark, df, side))
        df.coalesce(4).write.options(NioLocalFileSystem.writerOptions)
          .mode(SaveMode.Overwrite).parquet(side)
    }

  // ---- T6: last-run timestamp per table --------------------------------
  // Stored per key (like entity_watermarks/processed_files): pipelines
  // hold per-pipeline RunLocks, so a single shared file would let two
  // pipelines race a read-modify-write and lose one's update. One path
  // per key makes setLastRun a plain overwrite — no merge, no race.

  /** Reads the key's one-row table on the driver ([[DriverRead]]): no
    * Spark job. */
  def lastRun(key: String): Option[Timestamp] =
    DriverRead.collect(readOwned(runPath(key), "key STRING, last_run TIMESTAMP")
      .filter($"key" === key).select($"last_run"))
      .headOption.map(_.getTimestamp(0))

  def setLastRun(key: String, ts: Timestamp): Unit =
    writeAtomic(Seq((key, ts)).toDF("key", "last_run"), runPath(key))

  /** T6 fallback chain: explicit state, else MAX(ts) of the target table,
    * else the seed (rj_smtr/tasks.py:1216-1251). */
  def lastRunOrMax(key: String, target: => DataFrame, tsCol: String): Timestamp =
    lastRun(key).getOrElse {
      // seed only when the target genuinely is not there yet
      // (AnalysisException: missing table/path/column); a transient
      // execution failure must propagate, not silently reset the
      // watermark to the seed and re-ingest all history
      try target.agg(max(col(tsCol))).collect().headOption
        .flatMap(r => Option(r.getTimestamp(0))).getOrElse(SeedWatermark)
      catch { case _: org.apache.spark.sql.AnalysisException => SeedWatermark }
    }

  // ---- T7: per-entity watermarks ---------------------------------------

  /** entity STRING, last_update TIMESTAMP. */
  def entityWatermarks(key: String): DataFrame =
    readOrEmpty(entityPath(key), "entity STRING, last_update TIMESTAMP")

  /** J1: rows strictly newer than the entity's stored watermark (new
    * entities pass — seed semantics). Broadcast: state is small. */
  def newerThanWatermark(key: String, df: DataFrame, entityCol: String,
                         tsCol: String): DataFrame = {
    val wm = entityWatermarks(key)
      .withColumnRenamed("entity", entityCol)
    df.join(broadcast(wm), Seq(entityCol), "left")
      .filter(col("last_update").isNull || col(tsCol) > col("last_update"))
      .drop("last_update")
  }

  /** A3 + upsert: advance each entity's watermark to its max ts seen. */
  def advanceEntityWatermarks(key: String, df: DataFrame, entityCol: String,
                              tsCol: String): Unit = {
    val advanced = df.groupBy(col(entityCol).cast("string").as("entity"))
      .agg(max(col(tsCol)).as("last_update"))
    val merged = entityWatermarks(key).unionByName(advanced)
      .groupBy($"entity").agg(max($"last_update").as("last_update"))
    writeAtomic(merged, entityPath(key))
  }

  // ---- A4 at scale: cross-run mergeable sketches -----------------------
  // One read-merge-write discipline for the whole sketch family (HLL
  // cardinality, Qsk quantiles, Mg heavy hitters): a fix to the
  // atomicity/locking story lands in ONE place.

  private def readSketch(path: String): Option[Array[Byte]] =
    DriverRead.collect(readOwned(path, "sketch BINARY"))
      .headOption.map(_.getAs[Array[Byte]](0))

  private def mergeSketchFile(path: String, sk: Array[Byte],
                              merge: (Array[Byte], Array[Byte]) => Array[Byte]): Unit = {
    val merged = readSketch(path).map(merge(_, sk)).getOrElse(sk)
    writeAtomic(Seq(merged).toDF("sketch"), path)
  }

  private def sketchPath(key: String) = keyedPath("sketches", key)
  private def qsketchPath(key: String) = keyedPath("quantile_sketches", key)
  private def topkPath(key: String) = keyedPath("topk_sketches", key)

  /** Stored HLL sketch for this key, if any (one bounded ~4 KiB row). */
  def sketch(key: String): Option[Array[Byte]] = readSketch(sketchPath(key))

  /** Merge this run's sketch into the stored one (register-wise max —
    * lossless, so cross-run cardinality never re-scans history). */
  def mergeSketch(key: String, sk: Array[Byte]): Unit =
    mergeSketchFile(sketchPath(key), sk,
      (old, b) => graft.expressions.Hll.merge(old.clone(), b))

  /** Stored quantile sketch for this key, if any. */
  def quantileSketch(key: String): Option[Array[Byte]] =
    readSketch(qsketchPath(key))

  /** Merge this run's quantile sketch into the stored one — cross-run
    * percentiles (length/token-count distributions for quality cutoffs)
    * without ever re-scanning history. */
  def mergeQuantiles(key: String, sk: Array[Byte]): Unit =
    mergeSketchFile(qsketchPath(key), sk, graft.expressions.Qsk.mergeBytes)

  /** Stored heavy-hitters sketch for this key, if any. */
  def topKSketch(key: String): Option[Array[Byte]] =
    readSketch(topkPath(key))

  /** Merge this run's Misra–Gries sketch into the stored one — cross-run
    * dominant-token tracking (stopword drift, boilerplate detection) in
    * O(k) state without re-scanning history. */
  def mergeTopK(key: String, sk: Array[Byte]): Unit =
    mergeSketchFile(topkPath(key), sk, graft.expressions.Mg.mergeBytes)

  // ---- T8: processed-file sets -----------------------------------------

  def processedFiles(key: String): DataFrame =
    readOrEmpty(filesPath(key), "file STRING")

  /** J5: anti-join candidate files against the seen set. */
  def unprocessed(key: String, files: DataFrame, fileCol: String): DataFrame =
    files.join(processedFiles(key).withColumnRenamed("file", fileCol),
      Seq(fileCol), "left_anti")

  def markProcessed(key: String, files: Seq[String]): Unit =
    markProcessedDf(key, files.toDF("file"))

  /** Distributed variant: mark an arbitrarily large frame of file names
    * (one STRING column `file`) as processed without driver collection. */
  def markProcessedDf(key: String, files: DataFrame): Unit = {
    val merged = processedFiles(key)
      .unionByName(files.toDF("file")).distinct()
    writeAtomic(merged, filesPath(key))
  }
}
