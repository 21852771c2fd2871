package graft.cdc.source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.cdc.model.Changelog._

/** Source-level inventory: S8 regex table discovery and the connector
  * facade's initial-mode output exposed through the correctness gate.
  */
object SourceQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S8 — table discovery: distinct captured tables filtered by the
    // database/table regex (MySqlSnapshotSplitAssigner.java:187-231)
    "table_discovery" -> ((s, dir) =>
      changelog(s, dir)
        .select(lit("inventory").as("database_name"),
          graft.cdc.merge.ChangelogOps.tableNameCol.as("table_name"))
        .distinct()
        .where(col("table_name").rlike("^users_[01]$"))),

    // §3.1 — the full facade path: spark "read" through CdcSource with
    // initial startup mode (snapshot + log, snapshot reads excluded from
    // the log side)
    "cdc_source_initial" -> ((s, dir) =>
      CdcSource.read(s).option("scan.startup.mode", "initial").load(dir)),

    // S1/T2 — the full hybrid flow (chunked snapshot with interleaved
    // per-chunk watermarks -> emit-filtered log phase -> merge); its oracle
    // is the direct materialization of the whole changelog, which the
    // pipeline must reproduce exactly-once
    "hybrid_pipeline_materialize" -> ((s, dir) =>
      HybridPipeline.materialize(s, dir)),

    // T8 — the newly-added-tables flow: capture {users_0, users_1}
    // snapshotted at offset 300, users_2 added + snapshotted at 600, both
    // log tails merged; must equal direct materialization of the whole log
    // (the same guarantee the reference's newly-added-tables ITCase asserts)
    "newly_added_tables_materialize" -> ((s, dir) =>
      NewTablesFlow.materializeWithLateTable(s, dir, w = 300L, p = 600L)),

    // S1/S3 as a REAL DataSourceV2 MicroBatchStream: the changelog is staged
    // into an embedded-Derby change table (fixture synthesis standing in for
    // the external database — the stand-in proven by JdbcScanSpec), tailed
    // through readStream.format("graft-cdc-stream") in admission-controlled
    // micro-batches, then materialized with the batch upsert operator. The
    // oracle is the direct batch materialization of the same log prefix —
    // the stream must deliver every event exactly once for the hash to
    // match. Capped at a fixed offset so the fixture cost is sf-independent.
    "microbatch_stream_materialize" -> ((s, dir) => {
      val cap = 20000L
      val rows = changelog(s, dir).where(col("offset") < cap)
        .select("offset", "pk", "op", "ts_ms", "val").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
        .sortBy(_._1)
      // staged once per JVM: the log is an external database in real life;
      // re-creating it per bench pass would time fixture setup, not the
      // source. v2: the change-table layout grew a TBL column — a new
      // staging root so a pre-existing 5-column stage is never reused
      val url = graft.FixtureStaging.stageChangeTable("graft_mb2", dir,
        "GRAFT_CHANGELOG", rows.length, rows.lastOption.map(_._1)) { url =>
        CdcMicroBatch.appendChangeTable(url, "GRAFT_CHANGELOG", rows.iterator)
      }
      val sink = "mb_q_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = CdcSource.read(s)
        .option("max-events-per-trigger", 8192)
        .loadMicroBatch(url)
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.cdc.model.Changelog.upsertMaterialize(
        s.table(sink).limit(0).withColumnRenamed("value", "val"),
        s.table(sink).withColumnRenamed("value", "val"))
    }),

    // §3.1 Debezium-topic transport: encode the changelog as Kafka-shaped
    // envelope records, decode through the facade's stream adapter — the
    // oracle is the identity (a faithful transport returns the IR exactly;
    // double -> shortest-string -> double is bit-exact)
    "kafka_envelope_roundtrip" -> ((s, dir) =>
      graft.cdc.streaming.KafkaEnvelope.decode(
        graft.cdc.streaming.KafkaEnvelope.encode(
          changelog(s, dir), topic = "inventory.users", nPartitions = 4)))
  )

  def oracles: Map[String, String] = Map(
    "table_discovery" ->
      s"""$changelogSql
         |SELECT DISTINCT 'inventory' AS database_name,
         |       'users_' || (pk % 3) AS table_name
         |FROM changelog
         |WHERE regexp_matches('users_' || (pk % 3), '^users_[01]$$')""".stripMargin,

    "hybrid_pipeline_materialize" ->
      s"""$allRowsSql
         |SELECT pk, max("offset") AS last_offset, arg_max(val, "offset") AS val
         |FROM allrows GROUP BY pk
         |HAVING arg_max(op, "offset") <> 'd'""".stripMargin,

    "cdc_source_initial" ->
      s"""$changelogSql
         |SELECT -1 AS "offset", c_custkey AS pk, 'r' AS op, 0 AS ts_ms,
         |       c_acctbal AS val, CAST(NULL AS VARCHAR) AS props
         |FROM customer
         |UNION ALL
         |SELECT "offset", pk, op, ts_ms, val, props FROM changelog
         |WHERE op <> 'r'""".stripMargin,

    "kafka_envelope_roundtrip" ->
      s"""$changelogSql
         |SELECT "offset", pk, op, ts_ms, val,
         |       'users_' || (pk % 3) AS table_name
         |FROM changelog""".stripMargin,

    "newly_added_tables_materialize" ->
      s"""$changelogSql
         |SELECT pk, max("offset") AS last_offset, arg_max(val, "offset") AS val
         |FROM changelog
         |GROUP BY pk
         |HAVING arg_max(op, "offset") <> 'd'""".stripMargin,

    "microbatch_stream_materialize" ->
      s"""$changelogSql
         |SELECT pk, max("offset") AS last_offset, arg_max(op, "offset") AS last_op,
         |       arg_max(val, "offset") AS val
         |FROM changelog WHERE "offset" < 20000
         |GROUP BY pk
         |HAVING arg_max(op, "offset") <> 'd'""".stripMargin
  )
}
