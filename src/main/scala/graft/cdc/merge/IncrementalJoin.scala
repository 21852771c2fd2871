package graft.cdc.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.model.{Changelog, RowImage}
import RowImage.DeclaredTable

/** Incremental view maintenance for JOINS over changelogs — the delta-join
  * algebra Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB, expressed as batch-relational Spark plans
  * over the generic row-image IR.
  *
  * The reference engine maintains no joined views (its J1/J2 merges are
  * per-table), but a changelog consumer building a materialized JOIN — the
  * canonical streaming-SQL workload downstream of a CDC source — needs
  * exactly this algebra: every change frame on either side emits signed
  * join deltas against the OTHER side's state as of that frame's offset,
  * and the folded delta stream must reproduce the join of the final table
  * states. That fold-equals-join identity is this module's correctness
  * gate (oracled in [[IvmQueries]]) and the same stateless-delta discipline
  * as [[RowImage.incrementalAggEnvelope]], extended from aggregates to
  * joins.
  *
  * "State as of offset o" is computed without any per-event loop: each
  * row VERSION (a c/r/u frame's after-image) is live on the half-open
  * offset interval [its frame's offset, the pk's next frame's offset), so
  * B's state at A-event o is the set of B versions whose interval contains
  * o — an equi-join on the join column with a residual range predicate.
  * At 100 TB both sides shuffle ONCE on the join column (plus one
  * per-side window shuffle on the pk to build intervals); nothing is
  * driver-side, and a hot join key is the standard skew-join case AQE or
  * salting handles.
  *
  * The offsets of the two logs must share one total order (the reference's
  * single-binlog model: one log carries all captured tables, so frames are
  * globally ordered by log position).
  */
object IncrementalJoin {

  /** Row versions with their live intervals: each non-delete frame's
    * after-image is live from its offset until the same pk's next frame
    * (any op) in the last-writer-wins order — `end_offset` null = still
    * live; a frame that loses a tied offset gets an empty interval. One
    * window shuffle on the pk; delete frames produce no version but still
    * terminate the previous one via `lead`.
    */
  def versionIntervals(ir: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(RowImage.lwwOrder(ir, "after"))
    ir.withColumn("end_offset", lead(col("offset"), 1).over(w))
      .where(col("op") =!= Changelog.OpDelete)
      .select(col("offset").as("start_offset"), col("end_offset"),
        col("after").as("img"))
  }

  /** A changelog's signed delta rows: +1·after for c/r, −1·before for d,
    * both for u (the retraction pair — a key-changing update moves its row
    * between join groups naturally because each image carries its own join
    * column). Pure narrow projection + explode, no shuffle.
    */
  def signedDeltas(ir: DataFrame): DataFrame = {
    val ds = when(col("op").isin(Changelog.OpInsert, Changelog.OpRead),
        array(struct(lit(1).as("sign"), col("after").as("img"))))
      .when(col("op") === Changelog.OpUpdate,
        array(
          struct(lit(-1).as("sign"), col("before").as("img")),
          struct(lit(1).as("sign"), col("after").as("img"))))
      .otherwise(
        array(struct(lit(-1).as("sign"), col("before").as("img"))))
    ir.select(col("offset"), explode(ds).as("d"))
      .select(col("offset"), col("d.sign").as("sign"), col("d.img").as("img"))
  }

  /** The emitted join-delta stream for the view A ⋈ B on
    * `A.joinA = B.joinB`: every delta on one side joins the other side's
    * versions live at the delta's offset. Output
    * `(offset, sign, a_img, b_img)`, one row per affected join pair —
    * exactly the changelog a downstream consumer of the joined view would
    * ingest.
    */
  def joinDeltas(
      irA: DataFrame, joinA: String,
      irB: DataFrame, joinB: String): DataFrame =
    joinDeltasBetween(
      signedDeltas(irA), versionIntervals(irA), joinA,
      signedDeltas(irB), versionIntervals(irB), joinB)

  /** [[joinDeltas]] over pre-built delta / version-interval frames — the
    * decomposed form the STREAMING maintainer needs, where each
    * micro-batch's deltas join version intervals derived from persisted
    * open-version state plus the batch (the batch form passes each side's
    * own log for both roles).
    */
  def joinDeltasBetween(
      dA: DataFrame, vA: DataFrame, joinA: String,
      dB: DataFrame, vB: DataFrame, joinB: String): DataFrame = {
    def oneSide(deltas: DataFrame, dJoin: String,
        versions: DataFrame, vJoin: String): DataFrame = {
      val d = deltas.alias("d")
      val v = versions.alias("v")
      d.join(v,
        col(s"d.img.$dJoin") === col(s"v.img.$vJoin") &&
          col("v.start_offset") < col("d.offset") &&
          (col("v.end_offset").isNull ||
            col("d.offset") < col("v.end_offset")))
    }
    val aOnB = oneSide(dA, joinA, vB, joinB)
      .select(col("d.offset").as("offset"), col("d.sign").as("sign"),
        col("d.img").as("a_img"), col("v.img").as("b_img"))
    val bOnA = oneSide(dB, joinB, vA, joinA)
      .select(col("d.offset").as("offset"), col("d.sign").as("sign"),
        col("v.img").as("a_img"), col("d.img").as("b_img"))
    aOnB.unionByName(bOnA)
  }

  /** Fold the delta stream to the maintained view: net count per joined
    * row, cancellations dropped. For a consistent interleaved changelog
    * (every retraction retracts the exact live image — the changelog
    * contract) the result is the inner join of the two final table states
    * with `net` = 1 on every row; any algebra error would surface as a
    * surviving net≠1 row and break the oracle hash.
    */
  def foldDeltas(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("a_img"), col("b_img"))
      .agg(sum(col("sign")).as("net"))
      .where(col("net") =!= 0)

  /** The maintained join view, end to end: decode both envelope logs,
    * emit the delta stream, fold. `net` stays in the output as the
    * self-audit column.
    */
  def materializeJoin(
      envA: DataFrame, tableA: DeclaredTable, joinA: String,
      envB: DataFrame, tableB: DeclaredTable, joinB: String): DataFrame = {
    // each side's decoded IR feeds BOTH delta and version-interval roles —
    // pin the decode once (localCheckpoint) instead of JSON-parsing the
    // whole log twice per side. A per-call operator pin: a lost executor
    // fails the query with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. persist()
    // does not fit: this is operator state, and a persisted frame stays
    // registered with the cache manager for the life of the context
    val irA = RowImage.decodeEnvelope(envA, tableA).localCheckpoint()
    val irB = RowImage.decodeEnvelope(envB, tableB).localCheckpoint()
    foldDeltas(joinDeltas(irA, joinA, irB, joinB))
  }

  /** A maintained JOIN + GROUP BY view — the composed streaming-SQL
    * workload (`SELECT k, count(*), sum(v) FROM A JOIN B ... GROUP BY k`)
    * from the delta stream ALONE: each signed join delta contributes
    * ±1 to its group's count and ±v to its sum, so the view folds in one
    * hash aggregation over the deltas without ever materializing the
    * joined relation. Groups whose count nets to zero vanish (their sums
    * have provably netted too, for a consistent changelog). `v` must be an
    * exact type (integer/decimal) — the sums then hash-match the direct
    * join+aggregate of the final states, which is the oracle's form.
    */
  def maintainJoinAgg(
      envA: DataFrame, tableA: DeclaredTable, joinA: String,
      envB: DataFrame, tableB: DeclaredTable, joinB: String,
      valueField: String): DataFrame = {
    // decode pinned once per side, as in materializeJoin
    val irA = RowImage.decodeEnvelope(envA, tableA).localCheckpoint()
    val irB = RowImage.decodeEnvelope(envB, tableB).localCheckpoint()
    joinDeltas(irA, joinA, irB, joinB)
      .groupBy(col(s"a_img.$joinA").as(joinA))
      .agg(
        sum(col("sign")).as("cnt"),
        sum(col("sign") * col(s"a_img.$valueField")).as("total"))
      .where(col("cnt") =!= 0)
  }
}
