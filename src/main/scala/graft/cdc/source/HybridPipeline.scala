package graft.cdc.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.model.Changelog

/** S1 — the flagship hybrid-source flow as one composition: chunked
  * snapshot scans with per-chunk (LOW, HIGH] backfill brackets, then the
  * log phase starting at min(high watermark) with the per-split emit filter
  * dropping events already reflected in a chunk, merged to the current
  * state.
  *
  * This is the batch-deterministic re-formulation of
  * MySqlHybridSplitAssigner.java:103-232 (phase sequencing, binlog split at
  * min hwm) + BinlogSplitReader.java:228-279 (shouldEmit + cutover) — no
  * enumerator/reader RPC survives: the driver sequences phases, executors
  * do all data work, and both phases are row predicates feeding one
  * range-tagged merge (one shuffle, one read of the log).
  *
  * Each chunk carries its own watermark pair (a real sequential scanner
  * observes each chunk at a different log position); correctness therefore
  * exercises exactly the interleaving the reference's algebra must survive.
  * [[graft.cdc.source.HybridPipelineSpec]] proves the output equals direct
  * materialization of the full changelog.
  */
object HybridPipeline {

  /** (keyLo, keyHi, lowWm, highWm) per chunk — ranges must partition the key
    * space (None = unbounded).
    */
  type ChunkPlan = Seq[(Option[Long], Option[Long], Long, Long)]

  val defaultPlan: ChunkPlan = Seq(
    (None, Some(5L), 150L, 250L),
    (Some(5L), Some(10L), 400L, 500L),
    (Some(10L), None, 650L, 750L)
  )

  /** The flow over the scalar fixture: snapshot and log lift into the
    * 4-column generic IR `(offset, op, key, after)` over
    * [[Changelog.scalarTable]], and [[RowImageHybrid.materialize]] runs it.
    * Output: (pk, last_offset, val).
    */
  def materialize(
      spark: SparkSession,
      sfDir: String,
      plan: ChunkPlan = defaultPlan
  ): DataFrame =
    materialize(
      Changelog.asRowImage(Changelog.snapshot(spark, sfDir), col("val")).unionByName(
        Changelog.asRowImage(Changelog.changelog(spark, sfDir), col("val"))),
      plan)

  /** The flow over lifted rows, the `Long` bounds mapped to key structs. */
  private[source] def materialize(ir: DataFrame, plan: ChunkPlan): DataFrame = {
    val t = Changelog.scalarTable
    RowImageHybrid.materialize(ir, t, RowImageHybrid.planFromBoundaries(t,
      plan.map { case (lo, hi, _, _) => (lo.map(Seq(_)), hi.map(Seq(_))) },
      i => (plan(i)._3, plan(i)._4)))
  }
}
