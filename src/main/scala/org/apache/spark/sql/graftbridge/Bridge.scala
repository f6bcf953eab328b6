package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

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

  /** Delivers every listener-bus event posted so far (private[spark]);
    * throws `TimeoutException` after a minute. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
