package graft.cdc.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.model.RowImage
import graft.cdc.model.Changelog._

/** Changelog algebra — the reference's row-kind expansion, emit filtering
  * and phase-cutover logic as composable DataFrame transforms.
  *
  * Reference anchors:
  *  - P1/P2 op -> RowKind expansion: RowDataDebeziumDeserializeSchema.java:118-158
  *  - P3 upsert changelog mode:      DebeziumChangelogMode.java:22-27
  *  - J2 per-split emit filter:      BinlogSplitReader.java:228-260
  *  - T2 pure-log cutover:           BinlogSplitReader.java:262-279
  *  - T3 snapshot ts zeroing:        RecordUtils.java:119-147
  *  - P8 metadata columns:           MySqlReadableMetadata.java:31-106
  *  - T9 schema history argmax:      MySqlRecordEmitter.java:109-121
  *  - T7 resolvedTs flush:           TiKVRichParallelSourceFunction.java:224-260
  */
object ChangelogOps {

  /** Virtual table routing for the synthetic changelog: shard by pk like the
    * reference's sharded `customers_NNN` fixtures.
    */
  def tableNameCol: Column = concat(lit("users_"), pmod(col("pk"), lit(3)))

  /** P1/P2 — expand ops to row kinds: c/r -> +I, u -> -U(before)+U(after),
    * d -> -D(before). Before-images come from lag(val) per key in the
    * last-writer-wins order (the changelog's own history is the
    * before-image source). One shuffle (window by pk), then a narrow
    * explode.
    */
  def extractRows(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pk")).orderBy(RowImage.lwwOrder(changelog, "val"))
    val withPrev = changelog.withColumn("prev_val", lag(col("val"), 1).over(w))
    val kinds = when(col("op").isin(OpInsert, OpRead),
        array(struct(lit("+I").as("row_kind"), col("val").as("row_val"))))
      .when(col("op") === OpUpdate,
        array(
          struct(lit("-U").as("row_kind"), col("prev_val").as("row_val")),
          struct(lit("+U").as("row_kind"), col("val").as("row_val"))))
      .otherwise(
        array(struct(lit("-D").as("row_kind"), col("prev_val").as("row_val"))))
    withPrev
      .select(col("offset"), col("pk"), explode(kinds).as("k"))
      .select(col("offset"), col("pk"), col("k.row_kind").as("row_kind"),
        col("k.row_val").as("row_val"))
  }

  /** P3 — UPSERT changelog mode suppresses UPDATE_BEFORE rows. */
  def upsertMode(extracted: DataFrame): DataFrame =
    extracted.where(col("row_kind") =!= "-U")

  /** P5/T6 — predicate keeping non-heartbeat events (synthetic rule:
    * snapshot-read rows with val < 50 play heartbeats; the reference filters
    * on a dedicated topic name, RecordUtils.java:226-230).
    */
  def dropHeartbeats: Column =
    !(col("op") === OpRead && col("val") < 50)

  /** Per-dialect metadata configuration — which virtual columns a source
    * dialect exposes, and the config values they carry. The reference ships
    * one ReadableMetadata enum per connector (MySqlReadableMetadata.java:
    * 31-106: database_name/table_name/op_ts; PostgreSQL adds schema_name;
    * OceanBaseReadableMetadata adds tenant_name; MongoDBReadableMetadata
    * exposes collection_name); here one projection is driven by the dialect
    * config instead of per-connector classes.
    */
  case class DialectMeta(
      databaseName: String,
      schemaName: Option[String] = None,
      tenantName: Option[String] = None,
      collections: Boolean = false)

  /** P8 — metadata projection: database/table identity per the dialect
    * config + op_ts (0 for snapshot rows, T3). The captured shard name
    * plays table_name (and collection_name under a document-store dialect,
    * where the captured namespace is database.collection).
    */
  def withMetadata(changelog: DataFrame, d: DialectMeta): DataFrame = {
    val base = Seq(
      col("offset"), col("pk"), col("op"),
      lit(d.databaseName).as("database_name"),
      tableNameCol.as("table_name"))
    val dialect =
      d.schemaName.map(s => lit(s).as("schema_name")).toSeq ++
        d.tenantName.map(t => lit(t).as("tenant_name")).toSeq ++
        (if (d.collections) Seq(tableNameCol.as("collection_name")) else Nil)
    val opTs = when(col("op") === OpRead, lit(0L)).otherwise(col("ts_ms")).as("op_ts")
    changelog.select(base ++ dialect :+ opTs: _*)
  }

  /** P9 — row-value validator hook (reference: RowDataDebeziumDeserialize
    * Schema.ValueValidator / PostgresValueValidator): the returned frame
    * throws at execution time when any row violates `cond`, like the
    * reference's per-row validation callback. assert_true lives inside a
    * Filter so the optimizer cannot prune it.
    */
  def validated(df: DataFrame, cond: Column, message: String): DataFrame =
    df.where(coalesce(assert_true(cond, lit(message)).cast("boolean"), lit(true)))

  /** J2 — [[graft.cdc.model.RowImage.emitFilter]] keyed by the scalar
    * `pk` column; `splits` carries (lo, hi, hwm) with long bounds.
    */
  def emitFilter(changelog: DataFrame, splits: DataFrame): DataFrame =
    graft.cdc.model.RowImage.emitFilter(changelog, splits, "pk")

  /** T2 — pure-log cutover: per-table high watermark = max snapshot offset;
    * events strictly past it stream through unfiltered. Tables with no
    * snapshot rows cut over immediately (hwm -infinity -> true).
    */
  def pureLogFlag(changelog: DataFrame): DataFrame = {
    val tagged = changelog.withColumn("tbl", tableNameCol)
    val hwms = tagged.where(col("op") === OpRead)
      .groupBy(col("tbl")).agg(max(col("offset")).as("hwm"))
    tagged.where(col("op") =!= OpRead)
      .join(broadcast(hwms), Seq("tbl"), "left")
      .select(col("offset"), col("pk"), col("tbl"),
        coalesce(col("offset") > col("hwm"), lit(true)).as("pure_log"))
  }

  /** T9 — schema-history latest: the last-writer-wins winner per table. */
  def schemaHistoryLatest(changelog: DataFrame): DataFrame =
    RowImage.lastWriterWins(changelog.withColumn("tbl", tableNameCol), col("tbl"), "props")
      .select(col("tbl"), col("last.offset").as("last_offset"),
        col("last.props").as("props"))

  /** T7 — TiDB resolvedTs flush: only events at or before the resolved
    * timestamp are emitted, ordered by commit ts (ties by offset).
    *
    * The global commit rank is computed DISTRIBUTED by
    * [[graft.cdc.split.DistributedRank.withGlobalRowNumber]] — one range
    * shuffle on the flush order, per-partition row counts turned into bases
    * on the driver (<= spark.sql.shuffle.partitions numbers), then each
    * partition numbers its rows from its base — never as a partition-less
    * window that would drain the whole history through one task. The
    * reference serializes per source-reader
    * buffer flush, not globally (TiKVRichParallelSourceFunction.java:224-260);
    * this preserves its commit-ts flush order at any scale.
    */
  def resolvedTsFlush(changelog: DataFrame, resolvedTsMs: Long): DataFrame =
    graft.cdc.split.DistributedRank.withGlobalRowNumber(
      changelog.where(col("ts_ms") <= resolvedTsMs)
        .select(col("offset"), col("pk"), col("ts_ms")),
      "commit_rank",
      Seq(col("ts_ms"), col("offset")))

  /** Source-reader lag metrics — the reference's monitoring surface
    * (MySqlSourceReaderMetrics: currentFetchEventTimeLag /
    * currentEmitEventTimeLag / sourceIdleTime) as a per-table aggregation
    * over the changelog: event-time lag of each record against a
    * processing-time reference, rolled up to max/min/mean per captured
    * table in ONE map-side-combined hash aggregation. `refMs` is passed in
    * (not wall-clock) so the metric is deterministic and back-computable
    * over any log slice; a live pipeline passes the batch's processing
    * time. The mean divides two exact integers (one IEEE division), so
    * even the double is reproducible.
    */
  def sourceLagMetrics(changelog: DataFrame, refMs: Long): DataFrame =
    changelog
      .withColumn("tbl", tableNameCol)
      .groupBy(col("tbl"))
      .agg(
        count(lit(1)).as("n_events"),
        max(lit(refMs) - col("ts_ms")).as("max_lag_ms"),
        min(lit(refMs) - col("ts_ms")).as("min_lag_ms"),
        (sum(lit(refMs) - col("ts_ms")) / count(lit(1))).as("mean_lag_ms"))

  /** Transaction-consistent emission: only events of COMMITTED transactions
    * are released, each tagged with its transaction's commit offset, so a
    * consumer ordering by (commit_off, offset) never observes a transaction
    * half-applied. Mirrors Debezium's transaction-metadata buffering — the
    * reference consumes whole binlog transactions per poll and a downstream
    * with transaction metadata enabled holds events until the txn END marker
    * (reference: BinlogSplitReader.java poll loop; Debezium
    * `provide.transaction.metadata` envelope `transaction.id` /
    * `data_collection_order`).
    *
    * Shape at scale: ONE map-side-combined hash aggregation over (txn) to
    * find each transaction's commit marker, then a hash equi-join of the log
    * against that (far smaller) marker set — AQE broadcasts it when it fits.
    * No windows, no driver-side state; uncommitted (in-flight) transactions
    * simply produce no marker row and their events are withheld, exactly the
    * reference's buffer-until-END behavior.
    *
    * @param txn      transaction id of each event
    * @param isCommit predicate marking a transaction's commit event
    */
  def transactionConsistent(
      changelog: DataFrame, txn: Column, isCommit: Column): DataFrame = {
    val tagged = changelog.withColumn("txn_id", txn)
    // FIRST marker in offset order — matching the streaming operator
    // (TxnStream releases at the first marker it can see in the offset-
    // sorted buffer), so batch == stream holds for ANY predicate, even one
    // matching multiple events per txn; under the one-marker-per-txn
    // contract min and max coincide anyway
    val marks = tagged
      .groupBy(col("txn_id"))
      .agg(min(when(isCommit, col("offset"))).as("commit_off"))
      .where(col("commit_off").isNotNull)
    // events past their txn's commit marker belong to a not-yet-committed
    // reuse of the id (id wraparound) — withheld like any in-flight event
    tagged.join(marks, "txn_id")
      .where(col("offset") <= col("commit_off"))
  }
}
