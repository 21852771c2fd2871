package graft.cdc.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transaction-consistent emission — the continuous face of
  * [[graft.cdc.merge.ChangelogOps.transactionConsistent]]: events buffer in
  * the state store per transaction until that transaction's commit marker
  * arrives, then the whole transaction releases at once. A consumer of the
  * output never observes a transaction half-applied, which is exactly
  * Debezium's transaction-metadata contract (buffer until the txn END
  * event; reference consumes whole binlog transactions per poll —
  * BinlogSplitReader.java poll loop).
  *
  * Contract: ONE commit marker per transaction (a binlog/Debezium END
  * marker is unique by construction). Under that contract the streamed
  * output equals the batch operator on the finished log, independent of
  * how micro-batches split it (TxnStreamSpec proves this across splits).
  *
  * Scale shape: state is hash-partitioned by txn_id across the state store
  * and holds only UNCOMMITTED transactions (a committed txn's state
  * collapses to its commit offset, kept to withhold late id-reuse events;
  * `stateTtl` ages out ONLY those released tombstones — in-flight buffers
  * are never timed, so a stalled transaction can never release
  * half-applied). Transactions are bounded (a binlog txn fits memory by
  * construction), so per-key buffers are small; nothing global, no
  * driver-side state.
  */
object TxnStream {

  /** One buffered/released event. */
  case class TxnEvent(
      offset: Long, txn_id: Long, op: String, pk: Long, ts_ms: Long,
      value: Double)

  /** Released event, tagged with its transaction's commit offset. */
  case class TxnOut(
      txn_id: Long, offset: Long, pk: Long, op: String, ts_ms: Long,
      value: Double, commit_off: Long)

  /** Per-txn state: buffered events while in flight, or the commit offset
    * once released (buffer empty) so late arrivals stay withheld.
    */
  case class TxnState(committedAt: Option[Long], buf: Seq[TxnEvent])

  /** @param isCommit  marks the transaction's (unique) commit event
    * @param stateTtl  optional processing-time TTL bounding released-txn
    *                  tombstone state on unbounded streams
    */
  def transactionConsistentStream(
      events: Dataset[TxnEvent],
      isCommit: TxnEvent => Boolean,
      stateTtl: Option[java.time.Duration] = None): Dataset[TxnOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = stateTtl match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }
    events
      .groupByKey(_.txn_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (txnId: Long, rows: Iterator[TxnEvent], state: GroupState[TxnState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(TxnState(None, Nil))
            // arrival order within a batch is shuffle order; the log's
            // offset is the authoritative in-txn order
            val arrived = rows.toSeq.sortBy(_.offset)
            val out = st.committedAt match {
              case Some(_) => Nil // id reuse after release: withheld
              case None =>
                val all = st.buf ++ arrived
                all.find(isCommit) match {
                  case Some(marker) =>
                    val released = all.filter(_.offset <= marker.offset)
                    state.update(TxnState(Some(marker.offset), Nil))
                    released.map(e => TxnOut(txnId, e.offset, e.pk, e.op,
                      e.ts_ms, e.value, marker.offset))
                  case None =>
                    state.update(TxnState(None, all))
                    Nil
                }
            }
            // TTL applies ONLY to released-txn tombstones (committedAt set):
            // an in-flight buffer must never age out, or a txn could release
            // half-applied once its marker finally arrives — the timeout
            // stays unset until release, so uncommitted state is immortal
            // (the whole-or-nothing guarantee outlives any stall)
            if (state.getOption.exists(_.committedAt.isDefined))
              stateTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
            out.iterator
          }
        })
  }
}
