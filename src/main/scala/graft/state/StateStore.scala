package graft.state

import java.sql.Timestamp

import graft.lake.{FooterParquet, NioLocalFileSystem}
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
  */
class StateStore(spark: SparkSession, root: String) {
  import spark.implicits._

  val SeedWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  /** Keys are LOGICAL names; nothing on the path side may interpret
    * them. Both Hadoop's globStatus (the orphan-tmp sweep) and Spark's
    * file readers glob-expand their path argument, so a key containing
    * `* ? [ ] { }` (a dbt selector, a bracketed tag) would read/sweep the
    * wrong siblings — or match nothing and silently report first-run.
    * Characters outside a conservative safe set are percent-encoded
    * ('%' itself included, so the mapping is injective and two distinct
    * keys can never collide on one path). Safe-charset keys encode to
    * themselves; keys that DID work un-encoded before this scheme
    * existed (spaces, '/', …: legal paths, just glob-unsafe) are
    * migrated on first touch — without that, their watermarks would
    * silently read as first-run and re-ingest entire sources. */
  private def safeKey(key: String): String =
    key.flatMap { c =>
      if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-' || c == '=') c.toString
      // UTF-8 byte-wise %XX: FIXED-width hex per byte. (A code-point-wide
      // %X encoding is not injective: "‹" → "%2039" collides with
      // " 39" → "%20" + "39".)
      else c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"%%${b & 0xff}%02X").mkString
    }

  /** One-time-per-key legacy-layout migration: state written before
    * percent-encoding lived at the RAW key name; rename it to the
    * encoded path the first time the key is touched this session —
    * without this, such keys silently read as first-run and re-ingest
    * their sources. The probe only runs when the raw key could not
    * itself BE another key's current encoding (no %XX hex sequence in
    * it): a raw key like "a%20b" is also safeKey("a b"), and probing
    * it would rename the LIVE state of " "-keyed pipelines — the same
    * cross-key-theft class as the interim scheme below. Ambiguous raw
    * keys (any with literal %-hex) follow the same manual-rename
    * contract; unambiguous ones (spaces, '/', …) migrate automatically.
    *
    * Deliberately NOT probed: the interim code-point %XX encoding
    * (one %XX per code point, pre-UTF-8-byte). Its output alphabet
    * sits INSIDE the current scheme's — codePoint("‹"=U+2039) =
    * "%2039" = safeKey(" 39") — so an automatic probe could rename a
    * DIFFERENT live key's state (silently resetting its watermark),
    * and every non-ASCII case is ambiguous this way (the extra hex
    * digits fold into safe characters). Non-ASCII keys written under
    * that one-version scheme require a manual rename to the
    * [[safeKey]] path; the failure mode of NOT renaming is a loud
    * re-ingest, the failure mode of auto-probing would be silent
    * cross-key state theft. */
  private val migrationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def keyedPath(dir: String, key: String): String = {
    val enc = safeKey(key)
    val path = s"$root/$dir/$enc"
    // add(path) first: ambiguous paths get marked checked too (their
    // probe is skipped forever), so the regex runs once per path, not
    // on every state read/write
    if (enc != key && migrationChecked.add(path) && !ambiguousRawKey(key)) {
      import org.apache.hadoop.fs.Path
      // keys whose raw form is not even a constructible Path (':' etc.)
      // can have no legacy state — they never worked un-encoded
      val legacyOpt =
        try Some(new Path(s"$root/$dir/$key"))
        catch { case _: IllegalArgumentException => None }
      legacyOpt.foreach { legacy =>
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p) && fs.exists(legacy) && !fs.rename(legacy, p) &&
            !fs.exists(p))
          throw new java.io.IOException(
            s"legacy state migration $legacy -> $p failed")
      }
    }
    path
  }

  /** A raw key containing a literal %-hex sequence is indistinguishable
    * from another key's [[safeKey]] encoding — its raw path may be live
    * foreign state, so the migration probe must not touch it. */
  private val PercentHex = java.util.regex.Pattern.compile("%[0-9A-F]{2}")
  private def ambiguousRawKey(key: String): Boolean =
    PercentHex.matcher(key).find()

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

  /** Restore a crashed writer's intact `.old` copy BEFORE anything plans
    * a read of `path`. This must run in [[readOrEmpty]] — not only in
    * [[writeAtomic]] — because callers bind their merge frame to the read
    * first (spark.read.parquet resolves the missing path eagerly into the
    * empty fallback); a heal that runs later restores the file after the
    * plan has already decided the state is empty. */
  private def heal(path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path + ".old")
    if (!fs.exists(p) && fs.exists(old)) {
      // Two lock-free readers may race this rename; losing is fine as
      // long as SOMEONE restored the live copy. (A reader racing a live
      // writer's swap is handled by writeAtomic's bounded retry.)
      if (!fs.rename(old, p) && !fs.exists(p))
        throw new java.io.IOException(s"state recovery rename $old -> $p failed")
    }
  }

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
    heal(path)
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
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(schemaDdl))
    else read
  }

  /** Distributed read-modify-write: the merged frame (which lazily READS
    * `path`) is executed into `path.tmp`, then swapped in with filesystem
    * renames. Never collects to the driver — millions of entities/files
    * stay distributed end-to-end — and never overwrites a path while a
    * job is still reading it. Safe under the single-writer-per-pipeline
    * discipline (the reference's skip_if_running guard,
    * utils/utils.py:197-231); a reader racing the two renames is a
    * first-run-style miss, not corruption, and a writer that crashes
    * between them is healed on the next call — the intact `.old` copy is
    * restored before the merge plans its read. */
  private def writeAtomic(df: DataFrame, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Unique tmp suffix per write: a fixed name would let a second writer
    // on the same path delete this one's in-progress output mid-write.
    // Orphans from crashed writers are swept here — safe because writers
    // on one path are serialized by the per-key RunLock discipline.
    val tmp = new Path(path + ".tmp-" + java.util.UUID.randomUUID())
    val old = new Path(path + ".old")
    // Belt-and-braces heal (the load-bearing one runs in readOrEmpty,
    // before callers plan their merge read).
    heal(path)
    // globStatus treats * ? [ ] { } in the PATH part as patterns — a state
    // key containing one would match unrelated paths (or throw). Escape
    // them so only the literal path's tmp suffix stays a wildcard.
    val globSafe = path.replaceAll("([*?\\[\\]{}\\\\])", "\\\\$1")
    try Option(fs.globStatus(new Path(globSafe + ".tmp-*"))) // null when parent absent
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
    catch { case _: java.io.IOException => () }
    // State rows are tiny (entity + timestamp); 4 output files keeps the
    // table compact up to ~10^8 entities without a count-then-choose pass.
    df.coalesce(4).write.options(NioLocalFileSystem.writerOptions)
      .mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    // Swap with bounded retry: a lock-free READER that catches us between
    // the two renames can heal `.old` back into `path` (readOrEmpty's
    // crash recovery) — the tmp->path rename then fails with path
    // re-occupied by the pre-update copy. Re-swapping it away and
    // retrying converges: each iteration leaves `old` holding the same
    // pre-update state. HDFS-style rename returns false instead of
    // throwing — a false must never be followed by deleting the
    // surviving copy.
    var attempts = 0
    var swapped = false
    while (!swapped) {
      if (fs.exists(p) && !fs.rename(p, old))
        throw new java.io.IOException(s"state swap rename $p -> $old failed")
      if (fs.rename(tmp, p)) swapped = true
      else {
        attempts += 1
        if (attempts >= 3 || !fs.exists(p)) {
          if (fs.exists(old)) fs.rename(old, p) // best-effort restore
          throw new java.io.IOException(s"state swap rename $tmp -> $p failed")
        }
      }
    }
    fs.delete(old, true)
  }

  // ---- T6: last-run timestamp per table --------------------------------
  // Stored per key (like entity_watermarks/processed_files): pipelines
  // hold per-pipeline RunLocks, so a single shared file would let two
  // pipelines race a read-modify-write and lose one's update. One path
  // per key makes setLastRun a plain overwrite — no merge, no race.

  def lastRun(key: String): Option[Timestamp] =
    readOwned(runPath(key), "key STRING, last_run TIMESTAMP")
      .filter($"key" === key).select($"last_run")
      .collect().headOption.map(_.getTimestamp(0))
      .orElse(legacyLastRun(key))

  /** Migration read: the pre-per-key layout kept ALL keys in one parquet
    * table at `$root/last_run` — the same path that now holds the
    * per-key subdirs, so surviving legacy part-files sit directly in it.
    * A key missing from the new layout falls back here (and moves to a
    * per-key path on its next setLastRun), so an upgrade never silently
    * re-processes history from the seed.
    *
    * Loaded ONCE per StateStore instance (the legacy table is one row
    * per key — driver-safe): without memoization every miss would launch
    * a Spark read, including every genuinely new key forever. Note the
    * fallback also means deleting a per-key dir alone does NOT reset a
    * key that predates the migration — remove the legacy part-files once
    * all pipelines have written the new layout. */
  private lazy val legacyRuns: Map[String, Timestamp] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$root/last_run")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = try fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    if (parts.isEmpty) Map.empty
    else spark.read.parquet(parts.map(_.getPath.toString).toIndexedSeq: _*)
      .select($"key", $"last_run").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
  }

  private def legacyLastRun(key: String): Option[Timestamp] = legacyRuns.get(key)

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
    readOwned(path, "sketch BINARY")
      .collect().headOption.map(_.getAs[Array[Byte]](0))

  private def mergeSketchFile(path: String, sk: Array[Byte],
                              merge: (Array[Byte], Array[Byte]) => Array[Byte]): Unit = {
    val merged = readSketch(path).map(merge(_, sk)).getOrElse(sk)
    writeAtomic(Seq(merged).toDF("sketch"), path)
  }

  // keyedPath, not bare safeKey: sketch state predates both encoding
  // schemes too, so it gets the same legacy-layout migration probe
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
