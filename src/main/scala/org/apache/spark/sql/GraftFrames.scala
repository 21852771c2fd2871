package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridges to package-private classic-API helpers: an RDD of internal rows
  * as a DataFrame without a Row codec (`internalCreateDataFrame`), and the
  * Column <-> Catalyst expression conversions native expressions are built
  * with (`ExpressionUtils`).
  */
object GraftFrames {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)
}
