package graft.cdc.split

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed global row numbering — the scalable form of
  * `row_number() OVER (ORDER BY ...)` that never drains the data through a
  * single partition and stays fully columnar (no object codec, no Window):
  *
  *  1. range-partition on the sort key and sort within partitions,
  *  2. read (partition id, local 1-based index) out of
  *     `monotonically_increasing_id()` — Spark encodes exactly those two
  *     fields (pid in the upper 31 bits, per-partition record number in the
  *     lower 33) and, being nondeterministic, the expression is pinned
  *     above the sort by the optimizer,
  *  3. add each partition's cumulative row-count base, computed window-free
  *     from the tiny per-partition counts (<= spark.sql.shuffle.partitions
  *     rows of planner metadata, broadcast back).
  *
  * `orderCols` must form a total order for a deterministic result — pass
  * tie-breaker columns exactly as you would to row_number.
  */
object DistributedRank {

  /** Pin the range exchange to an EXPLICIT partition count
    * (REPARTITION_BY_NUM). Without it the exchange is REPARTITION_BY_COL
    * and AQE may coalesce each CONSUMER'S AQEShuffleRead independently —
    * the rank rows and the broadcast bases then read the same exchange
    * through DIFFERENT partition merges, their `__pid`s disagree, and the
    * join adds the wrong bases (first reproduced at sf1 under a downstream
    * `coalesce(1)`: 185k of 299k ranks wrong; invisible at small SF where
    * BOTH branches happened to coalesce to one partition). An explicit
    * count is exempt from AQE coalescing, so partition identity is a pure
    * function of the data and the sampled range boundaries — identical for
    * every consumer and under any downstream plan shape.
    */
  private def numShufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Append `rnCol` = 1-based global rank by `orderCols`.
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
  ): DataFrame = {
    val in = if (dedup) df.dropDuplicates() else df
    // MATERIALIZE the (pid, lrn)-stamped frame once (localCheckpoint):
    // pid/lrn read runtime task identity, which is only meaningful for ONE
    // evaluation. Without the barrier the bases aggregate and the output
    // join each re-derive the range exchange as separate plans — different
    // rdd-id-seeded boundary samples and per-consumer AQE partition
    // coalescing make their pids DISAGREE, and the join adds wrong bases
    // (first caught at sf1 under a downstream coalesce(1): 185k of 299k
    // ranks wrong; invisible at small SF where both sides coalesce to one
    // partition). After the checkpoint, partition identity is frozen data:
    // every consumer and any downstream plan shape sees the same pids.
    // Callers project to the skinny (key[, value]) frame first, so the
    // materialization is scalar-width (the documented contract).
    val parted = in.repartitionByRange(numShufflePartitions(df), orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("int"))
      .withColumn("__lrn", col("__mid").bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      .drop("__mid")
      .localCheckpoint()
    // per-partition bases: base(p) = sum of counts of partitions before p —
    // a map-side-combined <=32-row aggregate + triangular join, so no
    // partition-less Window node appears anywhere in the plan
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    val bases = counts.as("a")
      .join(broadcast(counts.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__cnt")), lit(0L)).as("__base"))
    local(parted, bases, rnCol)
  }

  private def local(parted: DataFrame, bases: DataFrame, rnCol: String): DataFrame =
    parted.join(broadcast(bases), Seq("__pid"))
      .withColumn(rnCol, col("__base") + col("__lrn"))
      .drop("__pid", "__lrn", "__base")

  /** Append `sumCol` = inclusive global running sum of `valueCol` in
    * `orderCols` order — the scalable form of
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`, which Spark
    * would otherwise execute as a single-partition Window.
    *
    * Same decomposition as [[withGlobalRowNumber]]: range-partition on the
    * key, per-partition prefix sums, and per-partition base offsets from
    * the tiny totals aggregate broadcast back. The per-partition fold is
    * the compiled `graft_running_sum` expression evaluated above an
    * explicit partition-local sort — the Window form it replaces
    * (`sum OVER (PARTITION BY __pid ...)`) paid a full extra hash Exchange
    * plus Sort, because Catalyst cannot prove the range exchange already
    * clusters by the derived partition id. Callers should still project
    * down to (key, value) width first — the intended use is prefix sums
    * over per-key scalars (token budgets, byte offsets), not wide rows.
    * Unlike the row-number path there is no fold-free `__mid` shortcut: a
    * prefix SUM needs the per-row fold, not just the position.
    *
    * `orderCols` must form a total order; `valueCol` must be integral
    * (sums stay in the long domain, so results are engine-exact).
    *
    * The pid-stamped frame is localCheckpoint-materialized once and shared
    * by the run/totals branches — partition identity is runtime task
    * identity, which independent re-evaluations of the exchange do NOT
    * reproduce (rdd-id-seeded boundary sampling + per-consumer AQE
    * coalescing; see [[withGlobalRowNumber]]). A 100 TB job whose value
    * column is expensive (e.g. tokenization) should still project to the
    * narrow (key, value) frame first — that projection is what gets
    * materialized.
    */
  def withGlobalRunningSum(
      df: DataFrame,
      sumCol: String,
      valueCol: Column,
      orderCols: Seq[Column]
  ): DataFrame = {
    graft.cdc.types.GraftFunctions.register(df.sparkSession)
    // same single-evaluation barrier as withGlobalRowNumber: __pid AND the
    // per-partition running fold are task identity/state, meaningful only
    // for one materialized evaluation. The fold is pinned above the sort
    // because, like monotonically_increasing_id, it is nondeterministic —
    // the optimizer may not reorder, duplicate or push it past the Sort.
    val parted = df.repartitionByRange(numShufflePartitions(df), orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .withColumn("__v", valueCol.cast("long"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__run", call_function("graft_running_sum", col("__v")))
      .localCheckpoint()
    // __nn counts non-null values per partition: a row whose local fold is
    // still null (its partition starts with nulls) takes the earlier
    // partitions' sum when any of them had a value, null otherwise — the
    // window sum's null-until-first-value semantics across range boundaries
    val sums = parted.groupBy(col("__pid"))
      .agg(sum(col("__v")).as("__s"), count(col("__v")).as("__nn"))
    val bases = sums.as("a")
      .join(broadcast(sums.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__s")), lit(0L)).as("__base"),
        coalesce(sum(col("b.__nn")), lit(0L)).as("__prior_nn"))
    parted.join(broadcast(bases), Seq("__pid"))
      .withColumn(sumCol,
        when(col("__run").isNull, when(col("__prior_nn") > 0, col("__base")))
          .otherwise(col("__base") + col("__run")))
      .drop("__pid", "__v", "__run", "__base", "__prior_nn")
  }
}
