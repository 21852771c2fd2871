package graft.cdc.streaming

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.model.{Changelog, RowImage}

/** S9 — exactly-once JDBC sink for the scalar changelog: the materialized-
  * state end of the pipeline, playing the reference's JDBC e2e sink
  * (MySqlE2eITCase.java sinks the CDC stream into a MySQL table via
  * idempotent upserts).
  *
  * Exactly-once comes from TWO independent guards, the standard recipe for
  * non-transactional streaming sinks:
  *
  *   1. '''Offset-guarded idempotent upserts''' — the rows go through the
  *      engine's one JDBC upsert writer, [[RowImage.applyRows]], over
  *      [[Changelog.scalarTable]]: a write applies only when its offset
  *      advances the key's stored `last_offset`, so a replayed or reordered
  *      batch can never regress state.
  *   2. '''Epoch ledger''' — this object's own part: after a batch's rows
  *      land, (sink_id, batch_id) is recorded in `GRAFT_SINK_EPOCH`; a batch
  *      id already in the ledger is skipped wholesale on replay. A crash
  *      BETWEEN rows and ledger re-runs the batch, which guard 1 makes a
  *      no-op.
  *
  * Rows are written on the executors, one connection per partition; only
  * the ledger touch is driver-side.
  */
object JdbcUpsertSink {

  /** Target-state DDL (`PK, LAST_OFFSET, LAST_OP, VAL`) plus the ledger. */
  def createTables(url: String, table: String): Unit = {
    RowImage.createStateTable(url, Changelog.scalarTable, table)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "GRAFT_SINK_EPOCH", null)
      val exists = try rs.next() finally rs.close()
      if (!exists) {
        val st = conn.createStatement()
        try st.executeUpdate(
          "CREATE TABLE GRAFT_SINK_EPOCH (SINK_ID VARCHAR(128), BATCH_ID BIGINT, " +
            "PRIMARY KEY (SINK_ID, BATCH_ID))")
        finally st.close()
      }
    } finally conn.close()
  }

  /** Has this (sink, batch) already committed? */
  private def epochCommitted(conn: Connection, sinkId: String, batchId: Long): Boolean = {
    val st = conn.prepareStatement(
      "SELECT 1 FROM GRAFT_SINK_EPOCH WHERE SINK_ID = ? AND BATCH_ID = ?")
    try {
      st.setString(1, sinkId); st.setLong(2, batchId)
      val rs = st.executeQuery()
      try rs.next() finally rs.close()
    } finally st.close()
  }

  /** Rows-only application (no ledger) — the executor half of a batch
    * commit: `(offset, pk, op, value)` rows lifted into the generic IR and
    * written by [[RowImage.applyRows]]. Package-visible so the chaos specs
    * can crash a commit between rows landing and the ledger mark, the exact
    * window a task-manager kill exposes.
    */
  private[streaming] def applyRows(batch: DataFrame, url: String, table: String): Unit =
    RowImage.applyRows(Changelog.asRowImage(batch, col("value")), Changelog.scalarTable, url, table)

  /** Write one micro-batch exactly-once. Idempotent: safe to call again with
    * the same batchId (ledger skip) or with overlapping redelivered rows
    * (offset guard).
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      url: String,
      table: String,
      sinkId: String): Unit = {
    val ledger = DriverManager.getConnection(url)
    val replay = try epochCommitted(ledger, sinkId, batchId) finally ledger.close()
    if (replay) return

    applyRows(batch, url, table)

    val mark = DriverManager.getConnection(url)
    try {
      val ins = mark.prepareStatement("INSERT INTO GRAFT_SINK_EPOCH VALUES (?, ?)")
      try {
        ins.setString(1, sinkId); ins.setLong(2, batchId)
        ins.executeUpdate()
      } catch {
        // concurrent replay marked it first — same outcome
        case _: java.sql.SQLIntegrityConstraintViolationException => ()
      } finally ins.close()
    } finally mark.close()
  }

  /** Wire a changelog stream into the sink. */
  def start(
      stream: DataFrame,
      checkpointDir: String,
      url: String,
      table: String,
      sinkId: String): StreamingQuery = {
    createTables(url, table)
    StreamingOps.runForeachBatch(stream, checkpointDir,
      (df, id) => upsertBatch(df, id, url, table, sinkId))
  }

  /** Read the materialized sink state back (for verification/consumers) —
    * tombstoned keys are dead and filtered here; the predicate pushes down
    * to the JDBC scan.
    */
  def readState(spark: org.apache.spark.sql.SparkSession, url: String, table: String): DataFrame =
    spark.read.jdbc(url, graft.cdc.source.CdcSource.validIdentifier(table),
        new java.util.Properties())
      .where(col("LAST_OP") =!= "d")
}
