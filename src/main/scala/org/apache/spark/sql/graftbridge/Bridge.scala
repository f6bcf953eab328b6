package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Column/Dataset <-> catalyst bridge.
  *
  * Spark 4 made `ExpressionUtils` and `Dataset.ofRows` private[sql];
  * extension libraries that define native expressions and logical plans
  * conventionally expose these converters from a subpackage of
  * org.apache.spark.sql, which is what we do here.
  */
object Bridge {
  /** `types.AbstractDataType` is private[sql] in Spark 4; expressions
    * outside org.apache.spark.sql need it to declare `inputTypes` for
    * ImplicitCastInputTypes. A transparent alias from this subpackage
    * keeps the override signature intact. */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** The duplicate-column check a file write makes (`SchemaUtils` is
    * private[spark]). */
  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(names, caseSensitive)

  /** `StructType.asNullable` (private[spark]): a relation's data schema
    * as `DataSource` resolves it. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Delivers every listener-bus event posted so far (private[spark]);
    * throws `TimeoutException` after a minute. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The leaf files under `root` as Spark's `InMemoryFileIndex` lists them
    * (`bulkListLeafFiles`: the job's input path filter and the hidden-path
    * filter, `ignoreMissingFiles` from the options, located statuses
    * unless `spark.sql.ignoreDataLocality`, the flat `listFiles` for the
    * schemes of `spark.sql.sources.useListFilesFileSystemList`), but all
    * on the calling thread: with the parallel-listing threshold at
    * `Int.MaxValue`, no directory count starts a listing job
    * (`HadoopFSUtils` is private[spark]). */
  def listLeafFiles(spark: SparkSession, root: Path,
                    options: Map[String, String]): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val sqlConf = spark.sessionState.conf
    val input = FileInputFormat.getInputPathFilter(new JobConf(conf, getClass))
    val filter: PathFilter = p => (input == null || input.accept(p)) &&
      !HadoopFSUtils.shouldFilterOutPathName(p.getName)
    val flat = sqlConf.useListFilesFileSystemList.split(",").map(_.trim)
      .contains(root.getFileSystem(conf).getScheme)
    (if (flat) HadoopFSUtils.listFiles(root, conf, filter)
     else HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, Seq(root), conf, filter,
       new FileSourceOptions(CaseInsensitiveMap(options)).ignoreMissingFiles,
       sqlConf.ignoreDataLocality, Int.MaxValue,
       sqlConf.parallelPartitionDiscoveryParallelism)).flatMap(_._2)
  }
}
