package graft.lake

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, SubqueryExpression}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}

/** The collect of a small parquet read, run on the driver: no Spark job.
  * The read twin of [[DriverWrite]]: a collect moves the rows to the
  * driver anyway, and for a few small files the job that would read them
  * costs more than reading them.
  *
  * It applies when the frame's optimized plan is projections and filters
  * over one parquet `HadoopFsRelation` (Spark's format or
  * [[FooterParquet]]) whose partition-pruned listing holds at most
  * [[MaxFiles]] files and [[MaxBytes]] bytes. The files are read with
  * Spark's own reader function (`buildReaderWithPartitionValues` over
  * the relation's resolved schema and the session's Hadoop conf), so
  * type conversion, rebasing and partition values are Spark's; the
  * calling thread and the common fork-join pool read them in parallel,
  * as a job's tasks would. A reader is reused while its inputs stay the
  * same, since building one broadcasts the Hadoop conf. The rows replace the relation as a
  * `LocalRelation` with the same output attributes, the optimizer's
  * `ConvertToLocalRelation` folds the projections and filters into it,
  * and its rows convert to `Row`s as a collect converts them.
  *
  * Every other frame is collected by Spark: over the bound, with
  * `mergeSchema`, `ignoreCorruptFiles` or `ignoreMissingFiles`, with
  * metadata columns, bucketed, non-parquet or cached relations, a
  * partition column also stored in the files, and plans that do not
  * fold (an aggregate, a join, an unevaluable expression). A file the
  * driver fails to read also goes to Spark, so a corrupt file fails as
  * a Spark read does.
  *
  * The file bound is where a driver read stops beating a Spark job.
  * Measured in a local[4] session on 4 cores: a table of N copies of one
  * capture-log minute file (3 columns, 957 B), `collect` of the whole
  * table, median of 3–15 warm runs per side:
  *
  * | files | driver read | Spark job |
  * |---|---|---|
  * | 1 | 25 ms | 48 ms |
  * | 10 | 32 ms | 57 ms |
  * | 100 | 86 ms | 114 ms |
  * | 1,440 (a source-day at 1 minute) | 0.80 s | 0.97 s |
  * | 4,096 | 1.54 s | 1.75 s |
  * | 8,192 | 2.89 s | 3.07 s |
  * | 14,400 | 5.57 s | 5.63 s |
  *
  * Both sides read at 4 files at a time, so the driver's lead is the
  * job's fixed cost, which vanishes into the per-file cost by 14,400
  * files; the bound is the largest size the driver won every run at.
  * The byte bound was not timed: it caps the driver memory the
  * unfiltered rows of a few large files can take.
  */
private[graft] object DriverRead {
  /** Listed files above which a Spark job reads as fast. */
  val MaxFiles = 8192
  /** Listed bytes above which the rows stay distributed. */
  val MaxBytes: Long = 32L << 20

  /** `df.collect()`, on the driver when the read is small (see above). */
  def collect(df: DataFrame): Array[Row] = {
    val plan = df.queryExecution.optimizedPlan
    scan(plan).flatMap { case (l, fs, dirs) =>
      read(fs, dirs).map(rows => fold(plan.transform {
        case r if r eq l => LocalRelation(l.output, rows)
      }))
    } match {
      case Some(LocalRelation(output, rows, _, _)) =>
        val toRow =
          CatalystTypeConverters.createToScalaConverter(DataTypeUtils.fromAttributes(output))
        rows.map(r => toRow(r).asInstanceOf[Row]).toArray
      case _ => df.collect()
    }
  }

  /** The optimizer's own folding of projections, filters and limits into
    * a `LocalRelation`, to its fixpoint. */
  @scala.annotation.tailrec
  private def fold(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan)
    if (next fastEquals plan) plan else fold(next)
  }

  /** The partition-pruned listing the driver would read for `df`, or
    * None when Spark reads it. */
  private[graft] def listing(df: DataFrame): Option[Seq[PartitionDirectory]] =
    scan(df.queryExecution.optimizedPlan).map(_._3)

  private def scan(plan: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation, Seq[PartitionDirectory])] = plan match {
    case PhysicalOperation(_, filters, l @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
        if eligible(l, fs) =>
      val partCols = AttributeSet(l.output.filter(a =>
        fs.partitionSchema.exists(f => f.name == a.name)))
      // partition filters as the file source strategy prunes with them,
      // attribute names normalized to the relation's
      val pruning = filters.filter(f => f.deterministic &&
        !SubqueryExpression.hasSubquery(f) && f.references.subsetOf(partCols))
        .map(_.transform { case a: AttributeReference =>
          l.output.find(_.semanticEquals(a)).getOrElse(a)
        })
      val dirs = fs.location.listFiles(pruning, Nil)
      val files = dirs.flatMap(_.files)
      if (files.size <= MaxFiles && files.map(_.getLen).sum <= MaxBytes)
        Some((l, fs, dirs))
      else None
    case _ => None
  }

  private def eligible(l: LogicalRelation, fs: HadoopFsRelation): Boolean = {
    val opts = new ParquetOptions(fs.options, fs.sparkSession.sessionState.conf)
    fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.bucketSpec.isEmpty &&
      fs.overlappedPartCols.isEmpty && l.output.size == fs.schema.size &&
      !opts.mergeSchema && !opts.ignoreCorruptFiles && !opts.ignoreMissingFiles
  }

  /** Spark's reader function for a relation, by everything it is built
    * from: the relation's schemas and options, and the session's Hadoop
    * conf, which carries every SQL conf the session sets. Building one
    * broadcasts that conf (~10 ms), so a relation read once per capture
    * cycle (a log, a state key) reuses its reader. */
  private val readers = new java.util.LinkedHashMap[AnyRef,
      PartitionedFile => Iterator[InternalRow]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[AnyRef,
        PartitionedFile => Iterator[InternalRow]]): Boolean = size > 16
  }

  private def reader(fs: HadoopFsRelation): PartitionedFile => Iterator[InternalRow] = {
    val spark = fs.sparkSession
    val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
    val key = (spark, fs.dataSchema, fs.partitionSchema, fs.options,
      spark.sessionState.conf.sessionLocalTimeZone,
      conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    readers.synchronized(Option(readers.get(key))).getOrElse {
      val built = fs.fileFormat.buildReaderWithPartitionValues(spark, fs.dataSchema,
        fs.partitionSchema, fs.dataSchema, Nil,
        fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      readers.synchronized(readers.put(key, built))
      built
    }
  }

  /** Every row of the listed files, in the relation's schema. */
  private def read(fs: HadoopFsRelation,
                   dirs: Seq[PartitionDirectory]): Option[Seq[InternalRow]] = {
    val readFile = reader(fs)
    // reader rows are the data columns, then the partition values: the
    // relation's schema. Files are read by the common pool's threads;
    // rows are copied, as the readers reuse their row objects.
    val files = dirs.flatMap(d => d.files.map(d.values -> _))
    try Some(new java.util.ArrayList(files.asJava).parallelStream()
      .map[Seq[InternalRow]] { case (values, f) =>
        val it = readFile(
          PartitionedFileUtil.getPartitionedFile(f, f.getPath, values, 0, f.getLen))
        try it.map(_.copy()).toList
        finally it match { case c: java.io.Closeable => c.close(); case _ => }
      }.collect(java.util.stream.Collectors.toList[Seq[InternalRow]]).asScala.flatten.toSeq)
    catch { case NonFatal(_) => None }
  }
}
