package graft.cdc.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.cdc.model.Changelog

/** Structured-Streaming face of the engine (SURVEY.md §7.2 M4).
  *
  * The batch operators are all expressed as column transforms over the
  * changelog IR, so the streaming path reuses them verbatim: a streaming
  * DataFrame of raw events goes through the SAME projection as
  * [[Changelog.changelog]], and stateful materialization runs either as
  * (a) `mapGroupsWithState` keyed by pk — the reference's per-key upsert
  * state (RecordUtils.java:77-114) held in the state store — or
  * (b) `foreachBatch` applying the batch merge incrementally.
  *
  * Scale: state is partitioned by pk across executors (state-store per
  * shuffle partition); no driver-side state anywhere.
  */
object StreamingOps {

  /** One changelog record — the typed face of the changelog IR. */
  case class ChangeRecord(offset: Long, pk: Long, op: String, ts_ms: Long, value: Double)

  /** Materialized per-key state. */
  case class KeyState(pk: Long, last_offset: Long, last_op: String, value: Double)

  /** Raw-events stream -> changelog stream: identical expressions to the
    * batch [[Changelog.changelog]] (ts already a long here — streaming
    * sources deliver epoch nanos).
    */
  def changelogStream(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("offset"),
      col("user_id").as("pk"),
      when(col("event_type") === "signup", Changelog.OpInsert)
        .when(col("event_type") === "error", Changelog.OpDelete)
        .when(col("event_type") === "view", Changelog.OpRead)
        .otherwise(Changelog.OpUpdate)
        .as("op"),
      col("ts_ms"),
      col("value")
    )

  /** Continuous last-writer-wins materialization via the state store.
    * Emits the updated state row for every key touched in a micro-batch;
    * deleted keys emit a tombstone (last_op = 'd', value NaN semantics kept
    * simple: value of the delete's before-image is not tracked, mirroring
    * the reference which just removes the key).
    */
  def upsertMaterializeStream(changelog: Dataset[ChangeRecord]): Dataset[KeyState] = {
    import changelog.sparkSession.implicits._
    changelog
      .groupByKey(_.pk)
      .mapGroupsWithState[KeyState, KeyState](GroupStateTimeout.NoTimeout) {
        (pk, records, state: GroupState[KeyState]) =>
          val init = state.getOption.getOrElse(KeyState(pk, Long.MinValue, "", 0.0))
          val last = records.foldLeft(init) { (acc, r) =>
            if (r.offset > acc.last_offset) KeyState(pk, r.offset, r.op, r.value) else acc
          }
          state.update(last)
          last
      }
  }

  /** One emitted retraction-stream row. */
  case class RetractRow(pk: Long, row_kind: String, row_val: Double, offset: Long)

  /** The inverse of materialization: turn an upsert stream into a retraction
    * changelog (+I on first sight, -U old/+U new on update, -D old on
    * delete) using per-key state — the streaming form of
    * [[graft.cdc.merge.ChangelogOps.extractRows]], with the state store
    * playing the before-image source instead of lag(). Rows within a
    * micro-batch are applied in the last-writer-wins order
    * `(offset, op, value)` ([[graft.cdc.model.RowImage.lwwOrder]]); a record
    * that does not rank above the key's state (late, redelivered, or losing
    * a tied offset) is ignored.
    */
  def retractionStream(changelog: Dataset[ChangeRecord]): Dataset[RetractRow] = {
    import changelog.sparkSession.implicits._
    changelog
      .groupByKey(_.pk)
      .flatMapGroupsWithState[KeyState, RetractRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (pk, records, state: GroupState[KeyState]) =>
          val out = Seq.newBuilder[RetractRow]
          var cur = state.getOption
          val rank = Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.Double.TotalOrdering)
          records.toSeq.sortBy(r => (r.offset, r.op, r.value))(rank).foreach { r =>
            if (cur.forall(c => rank.lt((c.last_offset, c.last_op, c.value), (r.offset, r.op, r.value)))) {
              // a key whose last op was a delete does not exist — the next
              // event re-inserts (+I), it does not retract the dead value
              val live = cur.filter(_.last_op != "d")
              (live, r.op) match {
                case (None, "d") => // delete of a non-existent key: no-op
                case (None, _) =>
                  out += RetractRow(pk, "+I", r.value, r.offset)
                case (Some(prev), "d") =>
                  out += RetractRow(pk, "-D", prev.value, r.offset)
                case (Some(prev), _) =>
                  out += RetractRow(pk, "-U", prev.value, r.offset)
                  out += RetractRow(pk, "+U", r.value, r.offset)
              }
              cur = Some(KeyState(pk, r.offset, r.op, r.value))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Hybrid continuation: same stateful materialization, seeded with the
    * snapshot-phase state (the chunk outputs of
    * [[graft.cdc.source.HybridPipeline]]) so the stream picks up exactly
    * where the batch snapshot finished — the reference's snapshot->binlog
    * phase handover as initial state-store contents.
    */
  def upsertMaterializeStreamFrom(
      changelog: Dataset[ChangeRecord],
      initial: Dataset[KeyState]
  ): Dataset[KeyState] = {
    import changelog.sparkSession.implicits._
    changelog
      .groupByKey(_.pk)
      .mapGroupsWithState[KeyState, KeyState](
        GroupStateTimeout.NoTimeout, initial.groupByKey(_.pk)) {
        (pk, records, state: GroupState[KeyState]) =>
          val init = state.getOption.getOrElse(KeyState(pk, Long.MinValue, "", 0.0))
          val last = records.foldLeft(init) { (acc, r) =>
            if (r.offset > acc.last_offset) KeyState(pk, r.offset, r.op, r.value) else acc
          }
          state.update(last)
          last
      }
  }

  /** foreachBatch wiring: apply any batch transform incrementally. The
    * caller's function sees each micro-batch as a plain DataFrame, so every
    * batch operator in this library applies unchanged.
    */
  def runForeachBatch(
      stream: DataFrame,
      checkpointDir: String,
      f: (DataFrame, Long) => Unit
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()
}
