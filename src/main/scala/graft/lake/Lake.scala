package graft.lake

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The three-zone lake and its writers (SURVEY §1.1, §2.2 K1–K7).
  *
  * Zones raw/staging/prod mirror the reference's GCS layout
  * (rj_smtr/tasks.py:384-429, rj_smtr/utils.py:136-200). Writes are:
  *
  *  - `append`: plain file-add (replaces the reference's read-concat-
  *    rewrite "append", utils/utils.py:499-506 — union semantics, but
  *    O(new data) instead of O(table));
  *  - `overwritePartitions`: dynamic partition overwrite — the Spark
  *    equivalent of delete-partition-blobs-then-upload
  *    (utils/dump_db/tasks.py:400-435) and the key to idempotent replay;
  *  - `createOrAppend`: K5 — register the external table in the session
  *    catalog on first write, append afterwards.
  *
  * At cluster scale every write of a distributed frame is
  * partition-parallel; nothing funnels through the driver. The one
  * exception is a driver-held frame, whose rows already sit in driver
  * memory (a fetched capture payload, a log row): its analyzed plan,
  * optimized with no cache substitution, is a `LocalRelation` or a
  * `Union` of them. A partitioned parquet `append` or
  * `overwritePartitions` of a non-empty driver-held frame writes its
  * files on the driver with Spark's own parquet writer and no Spark job
  * ([[DriverWrite]]), in the layout and commit order of a Spark write:
  * files staged under a hidden dir in the table root, then renamed in
  * (an overwrite deletes each touched partition dir first; an append
  * ends with `_SUCCESS`). Every other frame is a Spark write. The state
  * store's unpartitioned writes of driver-held frames (a last-run row, a
  * merged sketch) go through the same writer into a fresh dir.
  *
  * Reads are Spark's parquet relations over a dir listed on the driver
  * ([[FooterParquet.read]]), so no read runs a listing job. A collect of
  * a small parquet read can run on the driver instead ([[DriverRead]]);
  * the capture-cycle collect sites (the recapture plan, the state
  * store's one-row reads) do.
  *
  * A write that dies before its cleanup leaves its hidden staging dir
  * (`.graft-staging-<uuid>` of a driver write, `.spark-staging-<uuid>`
  * of a Spark dynamic overwrite) in the table root. Reads skip it; the
  * table's next [[compact]] removes it with the old root.
  *
  * A whole-table rewrite ([[compact]] of a path table, [[rewriteBucketed]]
  * and [[compactBucketed]] of a bucketed catalog table) writes the new
  * files beside the table and swaps the directory in through
  * [[DirSwap]], the one swap the state store's writes use too; the next
  * rewrite heals a swap that a crash cut short. A bucketed table's
  * catalog entry is never dropped by a rewrite, so no crash makes it
  * read as absent.
  *
  * Local-FS write rule: every path-addressed DataFrame write here goes
  * through `writer`, which selects [[NioLocalFileSystem]] for `file://`
  * paths, so a local lake sets file and directory permissions without
  * forking a `chmod` per file and directory (Hadoop without `libhadoop`
  * forks one). Driver writes and the state root's snapshot write
  * select it through the same options. The options are per write, not
  * process-wide, and other schemes ignore them. Not covered, and on no
  * benchmarked path:
  *  - `writeBucketed` and `rewriteBucketed`: `saveAsTable` stores
  *    writer options as the catalog table's options, so a persistent
  *    metastore would hand a graft class name to every later reader of
  *    the table;
  *  - `insertInto` appends (CorpusDedup, AnnIndex), which write with
  *    the catalog table's options;
  *  - direct `fs.create` call sites (`RunLock`, `DailyIngest`'s
  *    `ensureVocab`, the `StateStore` layout marker,
  *    `QualityClassifier`'s weights file and the `AnnIndex` retrain
  *    marker), which use the session's cached stock filesystem.
  *    `DriverWrite`'s `_SUCCESS` create is a direct site too, but it
  *    goes through the driver write's own filesystem, so it is covered.
  */
final case class TableRef(zone: String, dataset: String, table: String)

class Lake(spark: SparkSession, root: String) {

  def path(ref: TableRef): String = s"$root/${ref.zone}/${ref.dataset}/${ref.table}"

  private def qualified(ref: TableRef): String =
    s"${ref.zone}_${ref.dataset}.${ref.table}"

  private def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(NioLocalFileSystem.writerOptions)

  /** Cluster the frame by its partition columns before a partitioned
    * Spark write: without this every task holds a writer per touched
    * partition dir (tasks × dirs small files — the classic 100 TB lake
    * killer); with it each dir is written by exactly one task. */
  private[graft] def aligned(df: DataFrame, partitionBy: Seq[String]): DataFrame =
    if (partitionBy.isEmpty) df else df.repartition(partitionBy.map(col): _*)

  /** K1/K2/K3: partitioned append (CSV kept for raw-zone parity, parquet
    * default). A partitioned parquet append of a non-empty driver-held
    * frame runs on the driver: each partition's file is renamed from the
    * hidden staging dir into its dir, then `_SUCCESS` is written. */
  def append(df: DataFrame, ref: TableRef, partitionBy: Seq[String] = Nil,
             format: String = "parquet"): Unit =
    if (format != "parquet" ||
      !DriverWrite(spark, df, path(ref), partitionBy, dynamicOverwrite = false)) {
      val w = writer(aligned(df, partitionBy)).format(format).mode(SaveMode.Append)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(path(ref))
    }

  /** K6: idempotent re-write of exactly the partitions present in `df`
    * (dynamic partition overwrite — untouched partitions survive). A
    * non-empty driver-held frame is written on the driver: per touched
    * partition, the old dir is deleted and the staged dir renamed in. */
  def overwritePartitions(df: DataFrame, ref: TableRef,
                          partitionBy: Seq[String]): Unit =
    if (!DriverWrite(spark, df, path(ref), partitionBy, dynamicOverwrite = true))
      writer(aligned(df, partitionBy)).format("parquet")
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy: _*)
        .save(path(ref))

  /** K7: full table reset. */
  def overwriteAll(df: DataFrame, ref: TableRef,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = writer(df).format("parquet").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path(ref))
  }

  /** K5: create the catalog external table on first append, else append;
    * table schema is discovered from the files (schema-on-read). */
  def createOrAppend(df: DataFrame, ref: TableRef,
                     partitionBy: Seq[String] = Nil): Unit = {
    append(df, ref, partitionBy)
    val db = s"${ref.zone}_${ref.dataset}"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${qualified(ref)}
         |USING parquet LOCATION '${path(ref)}'""".stripMargin)
    if (partitionBy.nonEmpty) spark.sql(s"MSCK REPAIR TABLE ${qualified(ref)}")
  }

  /** Schema-on-read scan of a lake table (partition discovery included).
    * The dir is listed and the schema read from one footer on the driver
    * ([[FooterParquet.read]]), so resolving the read runs no Spark job at
    * any history length.
    * `mergeSchema = true` unions the schemas of all files (in a Spark
    * job), so a capture that started emitting a new column mid-history
    * reads as one table with nulls for the older files; when false the
    * option is NOT set, so a session-wide spark.sql.parquet.mergeSchema
    * still applies. */
  def read(ref: TableRef, mergeSchema: Boolean = false): DataFrame =
    FooterParquet.read(spark, path(ref),
      if (mergeSchema) Map("mergeSchema" -> "true") else Map.empty)

  /** Small-file compaction: rewrite the table into ~`targetFileBytes`
    * files. Minute-cadence captures append one small file per tick per
    * partition — a year of that is ~5×10⁵ files per table, and scan
    * planning starts to cost more than scanning. File count is sized
    * from the optimizer's own byte statistics (no extra pass over the
    * data). A table cannot be overwritten from its own live scan, so the
    * compacted copy is written aside and swapped in ([[DirSwap]]).
    * The old root is deleted whole, so hidden dirs that crashed writes
    * left in it (staging dirs) go with it. The dir is listed once: the
    * string-typed scan reuses the discovery read's listing.
    *
    * MUST run under the table's [[graft.state.RunLock]]: the scan
    * snapshots the file listing, so a concurrent append between listing
    * and swap would be silently dropped — compaction and capture share
    * the same single-writer key. Partition VALUES are preserved
    * verbatim: the rewrite reads with the discovered partition columns
    * typed as strings, so `hora=00` does not come back as `hora=0`, and
    * the session's settings are not touched. */
  def compact(ref: TableRef, partitionBy: Seq[String] = Nil,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    swapIn(ref) { side =>
      val discovered = read(ref).queryExecution.analyzed.collectFirst {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
      }.get
      // the same listing, read with the partition columns typed as strings
      val scan = FooterParquet.read(spark, path(ref),
        schema = Some(StructType(discovered.dataSchema.fields ++
          discovered.partitionSchema.fields.map(_.copy(dataType = StringType)))),
        leafFiles = Some(discovered.location match {
          case index: PartitioningAwareFileIndex => index.allFiles()
        }))
      val bytes = scan.queryExecution.optimizedPlan.stats.sizeInBytes
      val nFiles = (BigInt(1).max(
        (bytes + targetFileBytes - 1) / targetFileBytes)).toInt
      val compacted =
        if (partitionBy.isEmpty) scan.coalesce(nFiles)
        else aligned(scan, partitionBy) // one writer task (= file) per dir
      val w = writer(compacted).format("parquet").mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .save(side)
    }

  /** [[DirSwap]] of the table's dir, refreshing its listings after a heal
    * (a read in the cut swap cached the empty listing) and the swap. */
  private def swapIn(ref: TableRef)(write: String => Unit): Unit = {
    if (DirSwap.heal(spark, path(ref))) refresh(ref)
    DirSwap.replace(spark, path(ref))(write)
    refresh(ref)
  }

  /** Drop the cached file listings of a table whose dir was swapped. */
  private def refresh(ref: TableRef): Unit = {
    spark.catalog.refreshByPath(path(ref))
    if (spark.catalog.tableExists(qualified(ref))) spark.catalog.refreshTable(qualified(ref))
  }

  /** The catalog name [[rewriteBucketed]] writes its side dir under. */
  private def asideName(ref: TableRef): String = qualified(ref) + "__compact"

  /** A bucketed catalog table write through the stock writer:
    * saveAsTable would persist writer options as table options in the
    * metastore (see the class doc). Partition dirs sit ABOVE the bucket
    * files: scans prune partitions first, and each surviving partition
    * still joins bucket-colocated. */
  private def saveBucketed(df: DataFrame, name: String, location: String,
                           spec: BucketSpec, partitionBy: Seq[String]): Unit = {
    val w = df.write.format("parquet").mode(SaveMode.Overwrite)
    val b = (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.isEmpty) b
     else b.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*))
      .option("path", location)
      .saveAsTable(name)
  }

  /** Bucketed catalog table write: rows are hash-clustered (and sorted)
    * by the join key at write time, so equi-joins and aggregations
    * between tables bucketed on the same key run WITHOUT a shuffle —
    * the co-location strategy for the lake's biggest recurring joins
    * (fact↔fact on orderkey-like keys at 100 TB). Creates the table, or
    * replaces it through `saveAsTable`'s drop-and-recreate: rewrite an
    * existing table in its own layout with [[rewriteBucketed]]. */
  def writeBucketed(df: DataFrame, ref: TableRef, bucketCol: String,
                    numBuckets: Int, partitionBy: Seq[String] = Nil): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${ref.zone}_${ref.dataset}")
    saveBucketed(df, qualified(ref), path(ref),
      BucketSpec(numBuckets, Seq(bucketCol), Seq(bucketCol)), partitionBy)
  }

  /** Replace the rows of an existing bucketed catalog table with `df`,
    * whose columns must equal the table's, in order, by name and type
    * (nullability aside). The bucket
    * spec, sort columns and partition columns come from the table's
    * catalog entry. `df` is clustered on (partition columns, bucket
    * columns), so each partition dir gets ~one file per bucket, and is
    * written as the external table `<table>__compact` at the swap's side
    * dir (`df` is evaluated after the heal, so it may read the table's
    * own dir); that entry is dropped (its files stay) and the dir is
    * swapped in ([[DirSwap]]). The live catalog entry is never
    * dropped, so a crash at any point leaves the table registered, and
    * the next rewrite of the table heals its dir. `df` must land the
    * table's partitions (the catalog's partition list is kept). Same
    * [[graft.state.RunLock]] single-writer contract as [[compact]]. */
  def rewriteBucketed(df: => DataFrame, ref: TableRef): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(ref.table, Some(s"${ref.zone}_${ref.dataset}")))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"${qualified(ref)} is not bucketed"))
    def columns(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toSeq
    swapIn(ref) { side =>
      spark.sql(s"DROP TABLE IF EXISTS ${asideName(ref)}") // a dead rewrite's entry
      val rows = df
      require(columns(rows.schema) == columns(meta.schema),
        s"rewriteBucketed(${qualified(ref)}): columns ${columns(rows.schema)} " +
          s"are not the table's ${columns(meta.schema)}")
      saveBucketed(rows.repartition(spec.numBuckets,
        (meta.partitionColumnNames ++ spec.bucketColumnNames).map(col): _*),
        asideName(ref), side, spec, meta.partitionColumnNames)
      spark.sql(s"DROP TABLE ${asideName(ref)}") // external: the files stay
    }
  }

  /** Drop a dated table's `dateCol=…` partitions strictly older than
    * `minDate` — metastore entries AND files together, so no phantom
    * partitions survive (DROP PARTITION on an external table detaches
    * the metastore entry but leaves the directory; without the delete
    * the "expired" history accumulates forever). The TTL maintenance
    * tick for every date-above-buckets state table (dedup seen-sets,
    * dated IVF lists); runs under the table's [[graft.state.RunLock]]. */
  def expireDatePartitions(ref: TableRef, dateCol: String,
                           minDate: java.sql.Date): Unit = {
    val name = qualified(ref)
    if (!spark.catalog.tableExists(name)) return
    val expired = spark.sql(s"SHOW PARTITIONS $name").collect()
      .map(_.getString(0)) // "dateCol=YYYY-MM-DD"
      .map(_.stripPrefix(s"$dateCol="))
      .filter(d => java.sql.Date.valueOf(d).before(minDate))
    expired.foreach { d =>
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($dateCol='$d')")
      val dir = new org.apache.hadoop.fs.Path(path(ref) + s"/$dateCol=$d")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir) && !fs.delete(dir, true))
        throw new java.io.IOException(s"failed to delete expired $dir")
    }
    spark.catalog.refreshTable(name)
  }

  /** Small-files compaction for BUCKETED catalog tables (the seen-set /
    * IVF-list state tables after many `insertInto` appends): the
    * table's own rows through [[rewriteBucketed]], so each bucket lands
    * in ~one file per partition dir instead of one per historical
    * append, and the catalog entry keeps its layout.
    *
    * [[compact]] must NOT be used here: its path-level rewrite drops the
    * bucket file layout while the catalog still declares a bucket spec,
    * and every later bucketed read fails on the un-bucketed file names.
    * Same [[graft.state.RunLock]] single-writer contract as [[compact]].
    *
    * The rows are read by path with the table's schema, not as the
    * catalog table: over a bucketed scan Spark drops the clustering
    * repartition as redundant, then un-buckets the scan (nothing above it
    * needs the buckets), and every task writes every bucket. */
  def compactBucketed(ref: TableRef): Unit =
    rewriteBucketed(FooterParquet.read(spark, path(ref),
      schema = Some(spark.table(qualified(ref)).schema)), ref)
}
