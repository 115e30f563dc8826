package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` surface for extension libraries: Column ⇄
  * Expression conversion, session function registration and DataFrames
  * over internal rows. Lives under the org.apache.spark.sql namespace for
  * access, the standard pattern for Spark extension libraries (same
  * approach as public Spark ecosystem projects that construct
  * Datasets/Columns from plans).
  */
object GraftShim {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A DataFrame over `rows` as they are: their partitions and order, with
    * no encoder between them and the plan. Each row must match `schema`. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
