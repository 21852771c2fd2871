package graft.cdc.source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cdc.model.RowImage
import graft.cdc.model.RowImage.DeclaredTable

/** S1 on the GENERIC IR — the flagship hybrid-source flow over an arbitrary
  * declared table shape with a COMPOSITE key: chunked snapshot observation
  * with per-chunk (LOW, HIGH] backfill brackets, then the log phase from
  * min(high watermark) with the per-split emit filter, merged to current
  * state. This is the only implementation of the flow ([[HybridPipeline]]
  * lifts the scalar fixture into it). Both phases are row predicates over
  * the decoded envelope IR feeding one range-tagged merge
  * ([[RowImage.upsertMaterialize]]): the log is read, decoded and shuffled
  * once, whatever the number of chunks. Chunk boundaries are key-struct
  * literals compared lexicographically — the same boundary order the
  * composite chunk planners (KeyedChunkPlanner) emit.
  *
  * Reference: MySqlHybridSplitAssigner.java:103-232 (phase sequencing,
  * binlog split at min hwm), SnapshotSplitReadTask.java:166-212 (watermark
  * bracketing), BinlogSplitReader.java:228-279 (shouldEmit). No
  * enumerator/reader RPC survives: the driver sequences phases over tiny
  * plan metadata, executors do all row work.
  *
  * A chunk's "snapshot scan observed at lowWm" is the materialized state of
  * the chunk's key range at that offset — which for a changelog-defined
  * table IS the upsert merge of events ≤ lowWm (a real scanner reads the
  * same state off the source table; deletes before lowWm are absent, as
  * they are from a real scan).
  */
object RowImageHybrid {

  /** (keyLo, keyHi, lowWm, highWm) per chunk — lo/hi are key-struct literal
    * columns typed [[DeclaredTable.keyType]] (None = unbounded); ranges must
    * partition the key space.
    */
  type ChunkPlan = Seq[(Option[Column], Option[Column], Long, Long)]

  /** [keyLo, keyHi) containment on the composite key — shared by the chunk
    * observation pushdown, the backfill filter and the emit filter so the
    * boundary semantics cannot drift (struct comparison is lexicographic
    * over the declared pk fields).
    */
  def rangePredicate(key: Column, lo: Option[Column], hi: Option[Column]): Column =
    lo.map(key >= _).getOrElse(lit(true)) && hi.map(key < _).getOrElse(lit(true))

  /** Bridge from the composite chunk planners to a hybrid plan: the
    * `(start, end]` boundary chain KeyedChunkPlanner emits (tuples of key
    * values) becomes key-struct literals, and the caller assigns each
    * chunk its observed watermark bracket (a real sequential scanner
    * observes every chunk at a different log position).
    */
  def planFromBoundaries(
      table: DeclaredTable,
      ranges: Seq[(Option[Seq[Any]], Option[Seq[Any]])],
      watermarks: Int => (Long, Long)): ChunkPlan = {
    def b(values: Seq[Any]): Column =
      struct(values.zip(table.pkCols).map { case (v, c) => lit(v).as(c) }: _*)
        .cast(table.keyType)
    ranges.zipWithIndex.map { case ((lo, hi), i) =>
      val (lowWm, highWm) = watermarks(i)
      (lo.map(b), hi.map(b), lowWm, highWm)
    }
  }

  /** Materialize the hybrid flow over decoded generic-IR rows
    * (`(offset, op, ts_ms, key, before, after)` — [[RowImage.decodeEnvelope]]
    * output). Returns the flattened state (pk cols, last_offset, value
    * cols), which must equal the direct [[RowImage.upsertMaterialize]] of
    * the whole log — the exactly-once property the spec and oracle assert.
    */
  def materialize(ir: DataFrame, table: DeclaredTable, plan: ChunkPlan): DataFrame = {
    val slim = ir.select(col("offset"), col("op"), col("key"), col("after"))
    // a one-column key compares its field, not the struct: Catalyst folds
    // `struct(pk).pk` to `pk`, so the chunk range pushes into the scan
    val (key, bound) = table.pkCols match {
      case Seq(pk) => (col("key").getField(pk), (c: Column) => c.getField(pk))
      case _ => (col("key"), (c: Column) => c)
    }
    def inChunk(lo: Option[Column], hi: Option[Column]): Column =
      rangePredicate(key, lo.map(bound), hi.map(bound))

    // snapshot phase: each chunk's state at its high watermark (the
    // observation at lowWm plus the (lowWm, highWm] backfill); log phase
    // from min(high watermark): an event passes iff its key's chunk is
    // already past it (offset > that chunk's hwm) — the emit filter
    val snapshotPhase = plan.map { case (lo, hi, _, highWm) =>
      inChunk(lo, hi) && col("offset") <= highWm
    }.reduce(_ || _)
    val minHwm = plan.map(_._4).min
    val logPhase = col("offset") > minHwm && plan.map { case (lo, hi, _, highWm) =>
      inChunk(lo, hi) && col("offset") > highWm
    }.reduce(_ || _)

    // ONE merge over both phases. Take a key k in chunk c with high
    // watermark h. Every log-phase offset of k (> h) exceeds every
    // snapshot-phase offset of k (<= h), so the winner is the max-offset
    // log row when k has one and the max-offset snapshot row otherwise.
    // The two-level form (one merge per chunk, its survivors rewritten as
    // READ rows, then a final merge with the log phase) picks the same
    // winner: a delete that wins k's chunk drops k there, so the final
    // merge sees only k's log rows (none: k stays dropped, as the one
    // merge's delete winner drops it), and the READ rewrite changed only
    // `op`, which the output does not carry. Rows with a null offset, or
    // with a key in no chunk, enter neither form. Tied offsets pick any
    // tied row in both forms (ROADMAP direction 1). A real scanner pays
    // the per-chunk bracket because its chunk scan is an independent
    // table read; a changelog-derived observation is already the prefix
    // state, so the log is read, decoded and shuffled once.
    // RowImageHybridSpec pins the output against the direct full-log
    // merge and the plan at one exchange and one scan; HybridPipelineSpec
    // pins each chunk against the two-phase bracket
    // (SnapshotProtocol.normalizeChunk) and that lowWm does not change
    // the result.
    RowImage.upsertMaterialize(slim.where(snapshotPhase || logPhase), table)
  }
}
