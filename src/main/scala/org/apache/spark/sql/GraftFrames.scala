package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Wraps an RDD of internal rows as a DataFrame without a Row codec.
  * `internalCreateDataFrame` is package-private, hence this bridge.
  */
object GraftFrames {
  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)
}
