package graft.lake

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
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
  * readers name it by class through [[FooterParquet.reader]]. */
class FooterParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
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
  /** `spark.read` of parquet through [[FooterParquet]]. */
  def reader(spark: SparkSession): DataFrameReader =
    spark.read.format(classOf[FooterParquet].getName)
}
