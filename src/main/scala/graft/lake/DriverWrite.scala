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

/** The partitioned parquet write of a driver-held frame (see [[Lake]]),
  * run on the driver: no Spark job, no task, no shuffle. The rows are
  * already in driver memory; a Spark job would spend its fixed cost
  * moving them to one task.
  *
  * The files are Spark's own: the `OutputWriterFactory` of
  * `ParquetFileFormat.prepareWrite` over the session's Hadoop conf with
  * [[NioLocalFileSystem.writerOptions]], so codec, timestamp type,
  * legacy format and the footer's Spark schema come from the same
  * session confs as a Spark write. Layout and commit are Spark's: one
  * `part-00000-<uuid>.c000<ext>` file per partition dir, staged under a
  * hidden dir in the table root that readers skip, then renamed in as
  * [[Lake.append]] and [[Lake.overwritePartitions]] describe. A crash
  * before the renames leaves only the hidden dir; one between an
  * overwrite's delete and rename leaves that partition absent until the
  * write is replayed. */
private[lake] object DriverWrite {
  /** Writes `df` under `root` on the driver when it is driver-held,
    * non-empty, deterministic and partitioned, and the session caps no
    * file's record count; returns false, having written nothing, for
    * every other frame. */
  def apply(spark: SparkSession, df: DataFrame, root: String,
            partitionBy: Seq[String], dynamicOverwrite: Boolean): Boolean = {
    val analyzed = df.queryExecution.analyzed
    val local: Option[(Seq[Attribute], Seq[InternalRow])] =
      if (partitionBy.isEmpty || spark.sessionState.conf.maxRecordsPerFile > 0 ||
        !analyzed.deterministic ||
        !analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
      else spark.sessionState.optimizer.execute(analyzed) match {
        case l: LocalRelation => Some(l.output -> l.data)
        case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
          Some(u.output -> u.children.flatMap(_.asInstanceOf[LocalRelation].data))
        case _ => None
      }
    local match {
      case Some((output, rows)) if rows.nonEmpty =>
        write(spark, output, rows, new Path(root), partitionBy, dynamicOverwrite)
        true
      case _ => false
    }
  }

  private def write(spark: SparkSession, output: Seq[Attribute],
                    rows: Seq[InternalRow], table: Path, partitionBy: Seq[String],
                    dynamicOverwrite: Boolean): Unit = {
    val sqlConf = spark.sessionState.conf
    val format = new ParquetFileFormat
    // the checks Spark's DataSource and FileFormatWriter make before a write
    val schema = DataTypeUtils.fromAttributes(output)
    DataSource.validateSchema(format.toString, schema, sqlConf)
    PartitioningUtils.validatePartitionColumn(schema, partitionBy,
      sqlConf.caseSensitiveAnalysis)
    Bridge.checkColumnNameDuplication(output.map(_.name),
      sqlConf.caseSensitiveAnalysis)
    val partCols = partitionBy.map(p => output.find(a => sqlConf.resolver(a.name, p)).get)
    val dataCols = output.filterNot(partCols.contains)
    val dataSchema = DataTypeUtils.fromAttributes(dataCols)
    DataSourceUtils.verifySchema(format, dataSchema)

    // partition dir of each row, as Spark's writer escapes it (a null or
    // empty value becomes __HIVE_DEFAULT_PARTITION__)
    val tz = Option(sqlConf.sessionLocalTimeZone)
    val asStrings = UnsafeProjection.create(partCols.map(Cast(_, StringType, tz)), output)
    val toData = UnsafeProjection.create(dataCols, output)
    val byDir = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[InternalRow]]
    rows.foreach { r =>
      val v = asStrings(r)
      val dir = partCols.indices.map { i =>
        ExternalCatalogUtils.getPartitionPathString(partCols(i).name,
          if (v.isNullAt(i)) null else v.getUTF8String(i).toString)
      }.mkString(Path.SEPARATOR)
      byDir.getOrElseUpdate(dir, mutable.ArrayBuffer.empty) += r
    }

    val job = Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(NioLocalFileSystem.writerOptions))
    val factory = format.prepareWrite(spark, job, NioLocalFileSystem.writerOptions, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID)
    val uuid = UUID.randomUUID().toString
    val file = s"part-00000-$uuid.c000${factory.getFileExtension(ctx)}"
    val staging = new Path(table, s".graft-staging-$uuid")
    val fs = table.getFileSystem(job.getConfiguration)
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"failed to rename $from to $to")
    try {
      byDir.foreach { case (dir, part) =>
        val w = factory.newInstance(new Path(new Path(staging, dir), file).toString,
          dataSchema, ctx)
        try part.foreach(r => w.write(toData(r))) finally w.close()
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
