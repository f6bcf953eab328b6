package graft.lake

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType

/** The parquet write of a driver-held frame, run on the driver: no Spark
  * job, no task, no shuffle. The rows are already in driver memory; a
  * Spark job would spend its fixed cost moving them to one task.
  *
  * The files are Spark's own: the `OutputWriterFactory` of
  * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf with
  * [[NioLocalFileSystem.writerOptions]], so codec, timestamp type,
  * legacy format and the footer's Spark schema come from the same
  * session confs as a Spark write. Two writes are covered, each in the
  * layout and commit order of the Spark write it replaces:
  *  - a partitioned append or dynamic overwrite into a table ([[apply]],
  *    for [[Lake.append]] and [[Lake.overwritePartitions]]): one
  *    `part-00000-<uuid>.c000<ext>` file per partition dir, staged under
  *    a hidden dir in the table root that readers skip, then renamed in.
  *    A crash before the renames leaves only the hidden dir, which
  *    readers skip and the table's next [[Lake.compact]] removes; one
  *    between an overwrite's delete and rename leaves that partition
  *    absent until the write is replayed;
  *  - an unpartitioned write into a dir that does not exist yet
  *    ([[intoNewDir]], for the state store's writes into a fresh
  *    `.tmp-<uuid>` side dir of [[DirSwap]]): one
  *    `part-00000-<uuid>-c000<ext>` file, then `_SUCCESS`. The dir is
  *    invisible to readers until the swap renames it in. */
private[graft] object DriverWrite {
  /** Writes `df` under `root` on the driver when it is driver-held and
    * partitioned; returns false, having written nothing, for every other
    * frame. */
  def apply(spark: SparkSession, df: DataFrame, root: String,
            partitionBy: Seq[String], dynamicOverwrite: Boolean): Boolean =
    partitionBy.nonEmpty && (local(spark, df) match {
      case Some((output, rows)) =>
        writePartitioned(spark, output, rows, new Path(root), partitionBy, dynamicOverwrite)
        true
      case None => false
    })

  /** Writes `df` unpartitioned into `dir`, which must not exist yet, on
    * the driver when it is driver-held; returns false, having written
    * nothing, for every other frame. */
  def intoNewDir(spark: SparkSession, df: DataFrame, dir: String): Boolean =
    local(spark, df) match {
      case Some((output, rows)) =>
        val w = new Writer(spark, output, Nil)
        val table = new Path(dir)
        w.write(new Path(table, s"part-00000-${w.uuid}-c000${w.ext}"), rows)
        w.fs(table).create(new Path(table, "_SUCCESS"), true).close()
        spark.catalog.refreshByPath(dir)
        true
      case None => false
    }

  /** The rows of a non-empty, deterministic frame whose analyzed plan
    * optimizes (no cache substitution) to a `LocalRelation` or a `Union`
    * of them, when the session caps no file's record count. */
  private def local(spark: SparkSession,
                    df: DataFrame): Option[(Seq[Attribute], Seq[InternalRow])] = {
    val analyzed = df.queryExecution.analyzed
    if (spark.sessionState.conf.maxRecordsPerFile > 0 || !analyzed.deterministic ||
      !analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else (spark.sessionState.optimizer.execute(analyzed) match {
      case l: LocalRelation => Some(l.output -> l.data)
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        Some(u.output -> u.children.flatMap(_.asInstanceOf[LocalRelation].data))
      case _ => None
    }).filter(_._2.nonEmpty)
  }

  /** Spark's parquet writer for `output`'s data columns, after the checks
    * Spark's DataSource and FileFormatWriter make before a write. */
  private final class Writer(spark: SparkSession, output: Seq[Attribute],
                             partitionBy: Seq[String]) {
    private val sqlConf = spark.sessionState.conf
    private val format = new ParquetFileFormat
    private val schema = DataTypeUtils.fromAttributes(output)
    DataSource.validateSchema(format.toString, schema, sqlConf)
    PartitioningUtils.validatePartitionColumn(schema, partitionBy,
      sqlConf.caseSensitiveAnalysis)
    Bridge.checkColumnNameDuplication(output.map(_.name),
      sqlConf.caseSensitiveAnalysis)
    val partCols: Seq[Attribute] =
      partitionBy.map(p => output.find(a => sqlConf.resolver(a.name, p)).get)
    private val dataCols = output.filterNot(partCols.contains)
    private val dataSchema = DataTypeUtils.fromAttributes(dataCols)
    DataSourceUtils.verifySchema(format, dataSchema)
    private val toData = UnsafeProjection.create(dataCols, output)

    private val job = Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(NioLocalFileSystem.writerOptions))
    private val factory =
      format.prepareWrite(spark, job, NioLocalFileSystem.writerOptions, dataSchema)
    private val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID)
    val uuid: String = UUID.randomUUID().toString
    val ext: String = factory.getFileExtension(ctx)

    def fs(p: Path): org.apache.hadoop.fs.FileSystem = p.getFileSystem(job.getConfiguration)

    def write(file: Path, rows: Iterable[InternalRow]): Unit = {
      val w = factory.newInstance(file.toString, dataSchema, ctx)
      try rows.foreach(r => w.write(toData(r))) finally w.close()
    }
  }

  private def writePartitioned(spark: SparkSession, output: Seq[Attribute],
                               rows: Seq[InternalRow], table: Path,
                               partitionBy: Seq[String],
                               dynamicOverwrite: Boolean): Unit = {
    val w = new Writer(spark, output, partitionBy)
    // partition dir of each row, as Spark's writer escapes it (a null or
    // empty value becomes __HIVE_DEFAULT_PARTITION__)
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val asStrings = UnsafeProjection.create(w.partCols.map(Cast(_, StringType, tz)), output)
    val byDir = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[InternalRow]]
    rows.foreach { r =>
      val v = asStrings(r)
      val dir = w.partCols.indices.map { i =>
        ExternalCatalogUtils.getPartitionPathString(w.partCols(i).name,
          if (v.isNullAt(i)) null else v.getUTF8String(i).toString)
      }.mkString(Path.SEPARATOR)
      byDir.getOrElseUpdate(dir, mutable.ArrayBuffer.empty) += r
    }

    val file = s"part-00000-${w.uuid}.c000${w.ext}"
    val staging = new Path(table, s".graft-staging-${w.uuid}")
    val fs = w.fs(table)
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"failed to rename $from to $to")
    try {
      byDir.foreach { case (dir, part) =>
        w.write(new Path(new Path(staging, dir), file), part)
      }
      byDir.keys.foreach { dir =>
        val dst = new Path(table, dir)
        if (dynamicOverwrite) {
          if (!fs.delete(dst, true) && !fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
          rename(new Path(staging, dir), dst)
        } else {
          fs.mkdirs(dst)
          rename(new Path(new Path(staging, dir), file), new Path(dst, file))
        }
      }
      if (!dynamicOverwrite) fs.create(new Path(table, "_SUCCESS"), true).close()
    } finally fs.delete(staging, true)
    spark.catalog.refreshByPath(table.toString)
  }
}
