package graft.lake

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's parquet source with the schema read on the driver.
  *
  * Without `mergeSchema`, Spark's own inference reads ONE footer: the
  * listing's `_common_metadata`, else its `_metadata`, else its first
  * data file in path-string order. It reads that footer inside a Spark
  * job, whose fixed cost (~65–120 ms on 4 cores) is several times the
  * footer read itself. This format reads the same footer on the driver
  * and converts it the way Spark does (`readSchemaFromFooter`, which
  * prefers the Spark schema stored in the footer, over a
  * `ParquetToSparkSchemaConverter` of the session conf), so a read
  * resolves to the same schema with no job. With `mergeSchema` set (as
  * an option or as `spark.sql.parquet.mergeSchema`) every footer is
  * read, and that is what the distributed job is for: it is Spark's.
  * A footer the driver cannot read also goes to Spark, so a corrupt
  * file fails, or is skipped under `ignoreCorruptFiles`, as before.
  *
  * Everything else (scan, pushdown, vectorized reader, writes) is the
  * inherited `ParquetFileFormat`. The class is not registered as a
  * `DataSourceRegister` service, so the name `parquet` stays Spark's;
  * [[FooterParquet.read]] builds its relations with it. */
class FooterParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = getSqlConf(spark)
    if (new ParquetOptions(options, sqlConf).mergeSchema)
      super.inferSchema(spark, options, files)
    else {
      import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
      val sorted = files.sortBy(_.getPath.toString)
      def named(name: String) = sorted.find(_.getPath.getName == name)
      val touched = named(Common).orElse(named(Meta))
        .orElse(sorted.find(f => f.getPath.getName != Common && f.getPath.getName != Meta))
      try touched.map { f =>
        val conf = spark.sessionState.newHadoopConfWithOptions(options)
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(sqlConf))
      } catch { case NonFatal(_) => super.inferSchema(spark, options, files) }
    }
  }
}

object FooterParquet {
  /** A parquet read of the dir (or file) `path` through [[FooterParquet]],
    * resolved as `spark.read.options(options).schema(schema).load(path)`
    * resolves it, with no Spark job: the one read path of the lake's
    * tables, compactions and state.
    *
    * Spark's file index lists a dir's subdirs in a Spark job, one task
    * each, whenever a dir holds more than 32 of them
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`), which a
    * capture's `tick=` dirs pass from the 33rd minute of an hour and a
    * dated table from its 33rd day. Here the dir is listed on the driver
    * with Spark's own lister ([[Bridge.listLeafFiles]]: its hidden-path
    * filter, located statuses and `ignoreMissingFiles`), and the listing
    * reaches an `InMemoryFileIndex` through the index's file-status cache,
    * so partition discovery, pruning and the scan are the index's. The
    * cache holds that one listing; a refresh of the index (a
    * `refreshByPath`) drops it and lists the dir on the driver again.
    * `leafFiles` hands in a listing already made (a compaction's second
    * read of a dir it just read). The relation is `DataSource`'s: the
    * index's partition schema, the data schema from `schema` without its
    * partition columns or else from [[FooterParquet.inferSchema]] (one
    * footer read on the driver, or Spark's footer-merge job under
    * `mergeSchema`), nullable, and the options with `path`. The path is
    * read as given, never glob-expanded. A read Spark would refuse (a
    * missing path; no file to infer a schema from) goes to Spark's
    * reader, which raises its own `PATH_NOT_FOUND` /
    * `UNABLE_TO_INFER_SCHEMA`.
    *
    * Measured with `graft.tools.ListingProbe` (test sources) in a
    * local[4] session on 4 cores: a `data=/hora=/tick=` tree with one
    * small file per `tick=` dir, median of 3 warm resolutions per side
    * (jobs and tasks of one resolution; Spark's count includes its
    * one-task schema job):
    *
    * | tick dirs | this read | `spark.read.parquet` |
    * |---|---|---|
    * | 1,440 (a source-day at 1 minute) | 0.17 s, 0 jobs | 5.58 s, 25 jobs, 1,441 tasks |
    * | 14,400 (ten days) | 2.12 s, 0 jobs | 49.0 s, 241 jobs, 14,401 tasks |
    *
    * On a local disk a driver listing is one `listStatus` per dir. Object
    * stores were not measured: on GCS each dir's `listStatus` is one RPC,
    * so a long history lists serially where Spark's job lists in
    * parallel. Spark's flat `listFiles` (one recursive listing) is taken
    * for the schemes Spark takes it for
    * (`spark.sql.sources.useListFilesFileSystemList`); listing a GCS
    * history that way is an option left untested here. */
  def read(spark: SparkSession, path: String, options: Map[String, String] = Map.empty,
           schema: Option[StructType] = None,
           leafFiles: Option[Seq[FileStatus]] = None): DataFrame = {
    val opts = options + ("path" -> path)
    val raw = new Path(path)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConfWithOptions(opts))
    val root = raw.makeQualified(fs.getUri, fs.getWorkingDirectory)
    def refused = { // Spark's reader raises its own error
      val r = spark.read.format(classOf[FooterParquet].getName).options(options)
      schema.fold(r)(r.schema).load(path)
    }
    if (!fs.exists(root)) refused
    else {
      val index = new InMemoryFileIndex(spark, Seq(root), opts, schema,
        new DriverListing(root, () => Bridge.listLeafFiles(spark, root, opts), leafFiles))
      val partitionSchema = index.partitionSchema
      val resolver = spark.sessionState.conf.resolver
      val format = new FooterParquet
      schema.map(s => StructType(s.filterNot(f =>
          partitionSchema.exists(p => resolver(p.name, f.name)))))
        .orElse(format.inferSchema(spark, CaseInsensitiveMap(opts) - "path", index.allFiles()))
        .fold(refused) { dataSchema =>
          val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
          Seq(dataSchema, partitionSchema).foreach(s =>
            Bridge.checkColumnNameDuplication(s.fieldNames.toSeq, caseSensitive))
          spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
            Bridge.asNullable(dataSchema), None, format, CaseInsensitiveMap(opts))(spark))
        }
    }
  }

  /** The leaf files of one index's root: the listing handed in, else a
    * driver listing on first use; `invalidateAll` (the index's refresh)
    * drops them, so the next use lists again. */
  private final class DriverListing(root: Path, list: () => Seq[FileStatus],
                                    seed: Option[Seq[FileStatus]]) extends FileStatusCache {
    private var files = seed.map(_.toArray)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path != root) None
      else synchronized {
        if (files.isEmpty) files = Some(list().toArray)
        files
      }
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = synchronized { files = None }
  }
}

/** [[FooterParquet]] with `spark.sql.legacy.parquet.nanosAsLong` on for
  * its own relations only ([[graft.Tables.load]]): inference and the
  * scan's reader take their conf from `getSqlConf`, so a TIMESTAMP(NANOS)
  * column reads as a nanosecond long and the session is untouched.
  * Spark's inference job (`mergeSchema`, an unreadable footer) still
  * reads the session's conf. */
class NanosAsLong extends FooterParquet {
  override def getSqlConf(spark: SparkSession): SQLConf = {
    val conf = super.getSqlConf(spark).clone()
    conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    conf
  }
}
