package graft.cdc.split

import org.apache.spark.sql.{Column, DataFrame, GraftFrames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Global rank and running sum: the scalable forms of
  * `row_number() OVER (ORDER BY ...)` and
  * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`, which Spark would
  * otherwise run as a single-partition Window. One two-phase pass:
  *
  *  1. range-partition on the order and sort within partitions, once;
  *  2. one job sums each partition's values and counts its non-null ones;
  *     the driver turns those <= spark.sql.shuffle.partitions pairs into
  *     per-partition bases;
  *  3. a second pass over the same RDD folds each row's running value on
  *     top of its partition's base.
  *
  * Both passes read one RDD behind one range shuffle, so a partition index
  * names the same rows in both, whatever tasks run them: nothing is
  * checkpointed, and a lost shuffle block is recomputed from lineage.
  *
  * `orderCols` must form a total order for a deterministic result — pass
  * tie-breaker columns exactly as you would to row_number.
  */
object DistributedRank {

  /** Append `rnCol` = 1-based global rank by `orderCols`: the running sum
    * of 1.
    *
    * With `dedup = true`, rows are deduplicated first (hash-aggregate
    * distinct — map-side combined, columnar) so the rank runs over distinct
    * rows; only meaningful when `orderCols` covers every column of `df`.
    */
  def withGlobalRowNumber(
      df: DataFrame,
      rnCol: String,
      orderCols: Seq[Column],
      dedup: Boolean = false
  ): DataFrame =
    withGlobalRunningSum(if (dedup) df.dropDuplicates() else df, rnCol, lit(1L), orderCols)

  /** Append `sumCol` = inclusive global running sum of `valueCol` in
    * `orderCols` order. Sums stay in the long domain (overflow wraps), so
    * results are engine-exact for integral values. Nulls behave like the
    * window sum: the running value is null until the first non-null value,
    * also when that value sits in an earlier range partition.
    *
    * The whole row crosses the range shuffle, so callers project down to
    * the narrow (key, value) frame first.
    */
  def withGlobalRunningSum(
      df: DataFrame,
      sumCol: String,
      valueCol: Column,
      orderCols: Seq[Column]
  ): DataFrame = {
    val vi = df.schema.length // ordinal of __v
    val sorted = df.withColumn("__v", valueCol.cast("long"))
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rows = sorted.queryExecution.toRdd
    // bases(p) = (sum, non-null count) of the partitions before p
    val bases = rows.mapPartitions { it =>
      var sum, nonNull = 0L
      it.foreach(r => if (!r.isNullAt(vi)) { sum += r.getLong(vi); nonNull += 1 })
      Iterator.single((sum, nonNull))
    }.collect().scanLeft((0L, 0L)) { case ((s, n), (ps, pn)) => (s + ps, n + pn) }
    // each row is copied into the projection's buffer with the running
    // value written over `__v`, so the output is `df`'s columns plus sumCol
    val schema = sorted.schema
    val summed = rows.mapPartitionsWithIndex { (p, it) =>
      val project = UnsafeProjection.create(schema)
      var sum = bases(p)._1
      var seen = bases(p)._2 > 0
      it.map { r =>
        if (!r.isNullAt(vi)) { sum += r.getLong(vi); seen = true }
        val out = project(r)
        if (seen) out.setLong(vi, sum) else out.setNullAt(vi)
        out: InternalRow
      }
    }
    GraftFrames.ofRows(df.sparkSession, summed,
      StructType(df.schema.fields :+ schema(vi).copy(name = sumCol)))
  }
}
