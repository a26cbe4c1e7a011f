package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the sanctioned seam for third-party Catalyst expressions (the public
  * API deliberately hides Expression since Spark 4's Column became
  * backend-agnostic) — and into the InternalRow frame constructor that
  * sources decoding straight to Catalyst values need. Lives under
  * org.apache.spark.sql.* for package visibility; everything else in
  * graft stays outside.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def createDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rows, schema)
}
