package graft.cdc.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.cdc.types.WireJsonParse
import graft.cdc.model.Changelog._
import graft.cdc.offsets.BinlogOffsets

/** SURVEY.md §2.10 changelog-algebra + offset inventory (M2). */
object MergeQueries extends QueryPack {

  /** 2024-01-10T00:00:00Z — startup/resolvedTs threshold used by the
    * timestamp-mode queries.
    */
  private val TsThreshold = 1704844800000L

  private def splitsDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (0L, Option.empty[Long], Option(5L), 300L),
      (1L, Option(5L), Option(10L), 600L),
      (2L, Option(10L), Option.empty[Long], 900L)
    ).toDF("split_id", "lo", "hi", "hwm")
  }

  private val splitsSql =
    "(VALUES (0, NULL, 5, 300), (1, 5, 10, 600), (2, 10, NULL, 900)) AS s(split_id, lo, hi, hwm)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "changelog_extract_rows" -> ((s, dir) =>
      ChangelogOps.extractRows(changelog(s, dir))),

    "changelog_mode_upsert" -> ((s, dir) =>
      ChangelogOps.upsertMode(ChangelogOps.extractRows(changelog(s, dir)))),

    "heartbeat_filter" -> ((s, dir) =>
      changelog(s, dir).where(ChangelogOps.dropHeartbeats)
        .select(col("offset"), col("pk"), col("op"), col("ts_ms"), col("val"))),

    // P8 — every dialect's metadata surface in one projection (the union of
    // the per-connector ReadableMetadata enums): schema_name (Postgres),
    // tenant_name (OceanBase), collection_name (MongoDB) next to the common
    // database/table/op_ts
    "metadata_columns" -> ((s, dir) =>
      ChangelogOps.withMetadata(changelog(s, dir),
        ChangelogOps.DialectMeta("inventory",
          schemaName = Some("public"), tenantName = Some("sys"),
          collections = true))),

    "snapshot_ts_zeroing" -> ((s, dir) =>
      snapshot(s, dir).unionByName(changelog(s, dir))
        .select(col("offset"), col("pk"), col("op"),
          when(col("op") === OpRead, lit(0L)).otherwise(col("ts_ms")).as("op_ts"))),

    "emit_filter_watermark" -> ((s, dir) =>
      ChangelogOps.emitFilter(changelog(s, dir), splitsDf(s))
        .select(col("offset"), col("pk"), col("op"))),

    "pure_log_phase_cutover" -> ((s, dir) =>
      ChangelogOps.pureLogFlag(changelog(s, dir))),

    "schema_history_latest" -> ((s, dir) =>
      ChangelogOps.schemaHistoryLatest(changelog(s, dir))),

    "tidb_resolved_ts_flush" -> ((s, dir) =>
      ChangelogOps.resolvedTsFlush(changelog(s, dir), TsThreshold)),

    // the reference's reader-metrics surface (fetch/emit event-time lag)
    // per captured table, against the fixed TsThreshold reference instant
    "source_lag_metrics" -> ((s, dir) =>
      ChangelogOps.sourceLagMetrics(changelog(s, dir), TsThreshold)),

    // transaction-consistent emission: 20-event transactions (txn = offset
    // div 20), committed iff the txn contains an insert ('c' plays the
    // Debezium txn END marker); only whole committed transactions release
    "txn_consistent_emission" -> ((s, dir) =>
      ChangelogOps.transactionConsistent(
          changelog(s, dir), expr("`offset` div 20"), col("op") === OpInsert)
        .select(col("txn_id"), col("offset"), col("pk"), col("op"),
          col("ts_ms"), col("val"), col("commit_off"))),

    // T9 with a real payload: the schema history stores full
    // TableChange JSON documents (FlinkJsonTableChangeSerializer shape);
    // the query persists the encoded payload per table, then DECODES it
    // back to a typed struct and derives the restart-visible facts
    // (column count, pk, rendered DDL) from the decoded form — proving the
    // round trip inside the correctness gate
    "schema_history_decoded" -> ((s, dir) => {
      import graft.cdc.model.TableChangeCodec
      val hist = changelog(s, dir)
        .withColumn("tbl", ChangelogOps.tableNameCol)
        .groupBy(col("tbl"))
        .agg(min(col("offset")).as("created_offset"),
          max(col("offset")).as("altered_offset"))
        .withColumn("change_json",
          TableChangeCodec.encode(
            TableChangeCodec.usersChange(lit("ALTER"), col("tbl"))))
      val dec = TableChangeCodec.decode(col("change_json"))
      hist.select(
        col("tbl"), col("created_offset"), col("altered_offset"),
        dec.getField("type").as("change_type"),
        dec.getField("id").as("table_id"),
        size(dec.getField("table").getField("columns")).as("n_columns"),
        array_join(dec.getField("table").getField("primaryKeyColumnNames"), ",")
          .as("pk_cols"),
        TableChangeCodec.ddl(dec).as("ddl"))
    }),

    // T9 wire compat — the history round-trips through the reference's OWN
    // serialized form (encodeDebezium emits the FlinkJsonTableChangeSerializer
    // bytes; decodeDebezium is the tolerant compat parse), flattened to one
    // row per (table, column). The oracle independently constructs the same
    // wire bytes as a string and parses them with DuckDB's native JSON
    // engine — two engines agreeing on the same document text.
    "schema_history_debezium" -> ((s, dir) => {
      import graft.cdc.model.TableChangeCodec
      val hist = changelog(s, dir)
        .withColumn("tbl", ChangelogOps.tableNameCol)
        .groupBy(col("tbl"))
        .agg(max(col("offset")).as("last_offset"))
        .withColumn("payload", TableChangeCodec.encodeDebezium(
          TableChangeCodec.debeziumUsersChange(lit("CREATE"), col("tbl"))))
      val dec = TableChangeCodec.decodeDebezium(col("payload"))
      val parts = TableChangeCodec.tableIdParts(dec.getField("id"))
      hist.select(col("tbl"), col("last_offset"),
          dec.getField("type").as("change_type"),
          parts.getItem(0).as("id_catalog"),
          parts.getItem(1).as("id_table"),
          dec.getField("table").getField("defaultCharsetName").as("charset"),
          explode(dec.getField("table").getField("columns")).as("c"))
        .select(col("tbl"), col("last_offset"), col("change_type"),
          col("id_catalog"), col("id_table"), col("charset"),
          col("c.name").as("col_name"), col("c.jdbcType").as("jdbc_type"),
          col("c.nativeType").as("native_type"),
          col("c.typeName").as("type_name"),
          col("c.typeExpression").as("type_expr"),
          col("c.charsetName").as("col_charset"),
          col("c.length").as("col_length"), col("c.scale").as("col_scale"),
          col("c.position").as("col_position"),
          col("c.optional").as("is_optional"),
          col("c.autoIncremented").as("auto_inc"),
          col("c.generated").as("is_generated"),
          array_join(col("c.enumValues"), ",").as("enum_csv"))
    }),

    "startup_timestamp" -> ((s, dir) =>
      changelog(s, dir).where(col("ts_ms") >= TsThreshold)
        .select(col("offset"), col("pk"), col("op"), col("ts_ms"))),

    // Mongo change-stream offsets: per-event resume token (hex KeyString
    // "82" + t + i), decoded back to the BsonTimestamp value the offsets
    // compare by; past_startup = the startup filter a resumed change stream
    // applies (ChangeStreamOffset.compareTo by timestamp only)
    "mongo_resume_tokens" -> ((s, dir) => {
      import graft.cdc.offsets.MongoOffsets
      val thr = (TsThreshold / 1000L) << 32
      changelog(s, dir)
        .withColumn("token", MongoOffsets.tokenCol(
          expr("ts_ms div 1000"), pmod(col("offset"), lit(2147483647L))))
        .select(col("offset"), col("token"),
          MongoOffsets.decodeTsValue(col("token")).as("ts_value"),
          (MongoOffsets.decodeTsValue(col("token")) > lit(thr)).as("past_startup"))
    }),

    "startup_specific_offset" -> ((s, dir) =>
      BinlogOffsets.withFilePos(changelog(s, dir))
        .where(BinlogOffsets.filePosGreater(col("file"), col("pos"), "mysql-bin.000002", 500L))
        .select(col("offset"), col("pk"), col("file"), col("pos"))),

    // F18/§3.1 — GTID-set startup through the FULL facade path: the
    // codegen'd GtidContains containment filter drops every event whose
    // cumulative GTID set is already covered (set has a gap past 3000, so
    // coverage stops there; reference MySqlTableSourceFactory.java:196-268,
    // BinlogOffset.java:185-202)
    "startup_gtid_set" -> ((s, dir) =>
      graft.cdc.source.CdcSource.read(s)
        .option("scan.startup.mode", "specific-offset")
        .option("scan.startup.specific-offset.gtid-set", "s1:1-3000,s1:3501-4000")
        .load(dir)),

    // F18 — the restart-skip-events tiebreak in an oracled query: events are
    // grouped four to a "transaction" (same (file,pos), skip = index within
    // the transaction, exactly how the reference restarts mid-transaction,
    // BinlogOffset.java:173-246); startup lands INSIDE a transaction, so
    // events sharing the startup (file,pos) are kept iff their skip count
    // exceeds the startup's
    "startup_skip_events" -> ((s, dir) =>
      changelog(s, dir)
        .withColumn("tx", expr("`offset` div 4"))
        .withColumn("skip_events", expr("`offset` % 4"))
        .withColumn("file", concat(lit("mysql-bin."),
          lpad(expr(s"cast(tx div ${BinlogOffsets.EventsPerFile} as string)"), 6, "0")))
        .withColumn("pos", expr(s"(tx % ${BinlogOffsets.EventsPerFile}) * 4 + 4"))
        .where(BinlogOffsets.filePosSkipGreater(
          col("file"), col("pos"), col("skip_events"), "mysql-bin.000001", 204L, 2L))
        .select(col("offset"), col("pk"), col("file"), col("pos"), col("skip_events"))),

    "min_starting_offset" -> ((s, dir) =>
      changelog(s, dir)
        .groupBy(pmod(col("pk"), lit(8)).as("split_id"))
        .agg(max(col("offset")).as("hwm"))
        .agg(min(col("hwm")).as("offset"), count(lit(1)).as("n_splits"))
        .transform(BinlogOffsets.withFilePos)
        .select(col("offset").as("start_offset"), col("file"), col("pos"), col("n_splits"))),

    // J1/W1 under skew: salted two-stage reduction, same semantics (and
    // same oracle) as the single-shuffle merge
    "changelog_upsert_materialize_salted" -> ((s, dir) =>
      Skew.saltedUpsertMaterialize(snapshot(s, dir), changelog(s, dir), buckets = 8)),

    // nested BSON-document style extraction (§1.3 Mongo path: Document ->
    // ROW, Document -> MAP): parse props into a struct and a map, project
    // fields from both
    "nested_struct_extract" -> ((s, dir) =>
      changelog(s, dir).select(
        col("offset"),
        WireJsonParse(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_from_struct"),
        WireJsonParse(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType))
          .getItem("k").as("k_from_map")
      )),

    // T1 — chunked snapshot + (LOW, HIGH] backfill bracketing; the oracle is
    // the direct materialization at the HIGH watermark restricted to the
    // chunk's key range, which SnapshotProtocolSpec proves equivalent.
    "snapshot_chunk_backfill" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val scanned = upsertMaterialize(snapshot(s, dir), cl.where(col("offset") <= 200L))
        .select(col("pk"), col("last_offset").as("offset"), lit(OpRead).as("op"),
          lit(0L).as("ts_ms"), col("val"), lit(null).cast("string").as("props"))
      SnapshotProtocol.normalizeChunk(scanned, cl, 200L, 700L, Some(3L), Some(11L))
    }),

    // F18 GTID interval-set containment — native codegen expression
    // (graft_gtid_contains), not a Scala UDF. The general interval-set
    // algebra lives in BinlogOffsetsSpec; with this query's fixed container
    // set "s1:1-25,s2:1-10" the containment of "s1:1-N" reduces to N <= 25,
    // which is what the oracle checks.
    "gtid_containment" -> ((s, dir) => {
      graft.cdc.types.GraftFunctions.register(s)
      changelog(s, dir)
        .withColumn("gtid_a",
          concat(lit("s1:1-"), (pmod(col("offset"), lit(50)) + 1).cast("string")))
        .withColumn("gtid_b", lit("s1:1-25,s2:1-10"))
        .select(col("offset"), col("gtid_a"), col("gtid_b"),
          call_function("graft_gtid_contains", col("gtid_a"), col("gtid_b"))
            .as("contained"))
    })
  )

  def oracles: Map[String, String] = Map(
    "gtid_containment" ->
      s"""$changelogSql
         |SELECT "offset",
         |       's1:1-' || CAST(("offset" % 50) + 1 AS VARCHAR) AS gtid_a,
         |       's1:1-25,s2:1-10' AS gtid_b,
         |       ("offset" % 50) + 1 <= 25 AS contained
         |FROM changelog""".stripMargin,

    "changelog_extract_rows" ->
      s"""$changelogSql,
         |l AS (SELECT *, lag(val) OVER (PARTITION BY pk ORDER BY "offset") AS prev_val
         |      FROM changelog)
         |SELECT "offset", pk, '+I' AS row_kind, val AS row_val FROM l WHERE op IN ('c','r')
         |UNION ALL
         |SELECT "offset", pk, '-U' AS row_kind, prev_val AS row_val FROM l WHERE op = 'u'
         |UNION ALL
         |SELECT "offset", pk, '+U' AS row_kind, val AS row_val FROM l WHERE op = 'u'
         |UNION ALL
         |SELECT "offset", pk, '-D' AS row_kind, prev_val AS row_val FROM l WHERE op = 'd'""".stripMargin,

    "changelog_mode_upsert" ->
      s"""$changelogSql,
         |l AS (SELECT *, lag(val) OVER (PARTITION BY pk ORDER BY "offset") AS prev_val
         |      FROM changelog)
         |SELECT "offset", pk, '+I' AS row_kind, val AS row_val FROM l WHERE op IN ('c','r')
         |UNION ALL
         |SELECT "offset", pk, '+U' AS row_kind, val AS row_val FROM l WHERE op = 'u'
         |UNION ALL
         |SELECT "offset", pk, '-D' AS row_kind, prev_val AS row_val FROM l WHERE op = 'd'""".stripMargin,

    "heartbeat_filter" ->
      s"""$changelogSql
         |SELECT "offset", pk, op, ts_ms, val FROM changelog
         |WHERE NOT (op = 'r' AND val < 50)""".stripMargin,

    "metadata_columns" ->
      s"""$changelogSql
         |SELECT "offset", pk, op,
         |       'inventory' AS database_name,
         |       'users_' || (pk % 3) AS table_name,
         |       'public' AS schema_name,
         |       'sys' AS tenant_name,
         |       'users_' || (pk % 3) AS collection_name,
         |       CASE WHEN op = 'r' THEN 0 ELSE ts_ms END AS op_ts
         |FROM changelog""".stripMargin,

    "snapshot_ts_zeroing" ->
      s"""$changelogSql
         |SELECT -1 AS "offset", c_custkey AS pk, 'r' AS op, 0 AS op_ts FROM customer
         |UNION ALL
         |SELECT "offset", pk, op,
         |       CASE WHEN op = 'r' THEN 0 ELSE ts_ms END AS op_ts
         |FROM changelog""".stripMargin,

    "emit_filter_watermark" ->
      s"""$changelogSql
         |SELECT "offset", pk, op FROM changelog c
         |WHERE op <> 'r' AND EXISTS (
         |  SELECT 1 FROM $splitsSql
         |  WHERE (s.lo IS NULL OR c.pk >= s.lo)
         |    AND (s.hi IS NULL OR c.pk < s.hi)
         |    AND c."offset" > s.hwm)""".stripMargin,

    "pure_log_phase_cutover" ->
      s"""$changelogSql,
         |t AS (SELECT *, 'users_' || (pk % 3) AS tbl FROM changelog),
         |h AS (SELECT tbl, max("offset") AS hwm FROM t WHERE op = 'r' GROUP BY tbl)
         |SELECT t."offset", t.pk, t.tbl,
         |       coalesce(t."offset" > h.hwm, TRUE) AS pure_log
         |FROM t LEFT JOIN h ON t.tbl = h.tbl
         |WHERE t.op <> 'r'""".stripMargin,

    "schema_history_latest" ->
      s"""$changelogSql
         |SELECT 'users_' || (pk % 3) AS tbl,
         |       max("offset") AS last_offset,
         |       arg_max(props, "offset") AS props
         |FROM changelog GROUP BY 1""".stripMargin,

    "changelog_upsert_materialize_salted" ->
      s"""$allRowsSql
         |SELECT pk, max("offset") AS last_offset,
         |       arg_max(op, "offset") AS last_op,
         |       arg_max(val, "offset") AS val
         |FROM allrows GROUP BY pk
         |HAVING arg_max(op, "offset") <> 'd'""".stripMargin,

    "nested_struct_extract" ->
      s"""$changelogSql
         |SELECT "offset",
         |       CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k_from_struct,
         |       CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k_from_map
         |FROM changelog""".stripMargin,

    "snapshot_chunk_backfill" ->
      s"""$changelogSql,
         |allrows AS (
         |  SELECT "offset", pk, op, val FROM changelog WHERE "offset" <= 700
         |  UNION ALL
         |  SELECT -1 AS "offset", c_custkey AS pk, 'r' AS op, c_acctbal AS val FROM customer
         |)
         |SELECT pk, max("offset") AS "offset", 'r' AS op, 0 AS ts_ms,
         |       arg_max(val, "offset") AS val
         |FROM allrows WHERE pk >= 3 AND pk < 11
         |GROUP BY pk
         |HAVING arg_max(op, "offset") <> 'd'""".stripMargin,

    "tidb_resolved_ts_flush" ->
      s"""$changelogSql
         |SELECT "offset", pk, ts_ms,
         |       row_number() OVER (ORDER BY ts_ms, "offset") AS commit_rank
         |FROM changelog WHERE ts_ms <= $TsThreshold""".stripMargin,

    "source_lag_metrics" ->
      s"""$changelogSql
         |SELECT 'users_' || (pk % 3) AS tbl,
         |       count(*) AS n_events,
         |       max($TsThreshold - ts_ms) AS max_lag_ms,
         |       min($TsThreshold - ts_ms) AS min_lag_ms,
         |       CAST(sum($TsThreshold - ts_ms) AS DOUBLE) / count(*)
         |         AS mean_lag_ms
         |FROM changelog GROUP BY 1""".stripMargin,

    "txn_consistent_emission" ->
      s"""$changelogSql,
         |t AS (SELECT *, "offset" // 20 AS txn_id FROM changelog),
         |m AS (SELECT txn_id,
         |             min(CASE WHEN op = 'c' THEN "offset" END) AS commit_off
         |      FROM t GROUP BY txn_id)
         |SELECT t.txn_id, t."offset", t.pk, t.op, t.ts_ms, t.val, m.commit_off
         |FROM t JOIN m ON t.txn_id = m.txn_id
         |WHERE m.commit_off IS NOT NULL AND t."offset" <= m.commit_off""".stripMargin,

    "schema_history_decoded" ->
      s"""$changelogSql
         |SELECT 'users_' || (pk % 3) AS tbl,
         |       min("offset") AS created_offset,
         |       max("offset") AS altered_offset,
         |       'ALTER' AS change_type,
         |       'inventory.users_' || (pk % 3) AS table_id,
         |       3 AS n_columns,
         |       'pk' AS pk_cols,
         |       'ALTER TABLE inventory.users_' || (pk % 3) ||
         |       ' (pk BIGINT NOT NULL, val DOUBLE NOT NULL, k INT(11), PRIMARY KEY (pk))' AS ddl
         |FROM changelog GROUP BY pk % 3""".stripMargin,

    // independently reconstructs the reference wire bytes as TEXT and
    // parses them with DuckDB's own JSON engine
    "schema_history_debezium" ->
      s"""$changelogSql,
         |h AS (SELECT 'users_' || (pk % 3) AS tbl, max("offset") AS last_offset
         |      FROM changelog GROUP BY pk % 3),
         |w AS (SELECT tbl, last_offset,
         |  '{"type":"CREATE","id":"\\"inventory\\".\\"' || tbl ||
         |  '\\"","table":{"defaultCharsetName":"utf8mb4",' ||
         |  '"primaryKeyColumnNames":["pk"],"columns":[' ||
         |  '{"name":"pk","jdbcType":-5,"nativeType":8,"typeName":"BIGINT",' ||
         |  '"typeExpression":"BIGINT","charsetName":null,"position":1,' ||
         |  '"optional":false,"autoIncremented":true,"generated":false,' ||
         |  '"enumValues":[]},' ||
         |  '{"name":"val","jdbcType":8,"typeName":"DOUBLE",' ||
         |  '"typeExpression":"DOUBLE","charsetName":null,"position":2,' ||
         |  '"optional":false,"autoIncremented":false,"generated":false,' ||
         |  '"enumValues":[]},' ||
         |  '{"name":"k","jdbcType":4,"typeName":"INT",' ||
         |  '"typeExpression":"INT","charsetName":null,"length":11,' ||
         |  '"position":3,"optional":true,"autoIncremented":false,' ||
         |  '"generated":false,"enumValues":[]},' ||
         |  '{"name":"status","jdbcType":1,"nativeType":247,"typeName":"ENUM",' ||
         |  '"typeExpression":"ENUM","charsetName":"utf8mb4","length":7,' ||
         |  '"position":4,"optional":true,"autoIncremented":false,' ||
         |  '"generated":false,"enumValues":["''on''","''off''"]}]}}' AS payload
         |  FROM h),
         |d AS (SELECT tbl, last_offset, json_transform(payload,
         |  '{"type":"VARCHAR","id":"VARCHAR","table":{' ||
         |  '"defaultCharsetName":"VARCHAR","primaryKeyColumnNames":["VARCHAR"],' ||
         |  '"columns":[{"name":"VARCHAR","jdbcType":"INTEGER",' ||
         |  '"nativeType":"INTEGER","typeName":"VARCHAR",' ||
         |  '"typeExpression":"VARCHAR","charsetName":"VARCHAR",' ||
         |  '"length":"INTEGER","scale":"INTEGER","position":"INTEGER",' ||
         |  '"optional":"BOOLEAN","autoIncremented":"BOOLEAN",' ||
         |  '"generated":"BOOLEAN","enumValues":["VARCHAR"]}]}}') AS doc
         |  FROM w)
         |SELECT tbl, last_offset, doc.type AS change_type,
         |  string_split(regexp_replace(doc.id, '^"|"$$', '', 'g'), '"."')[1]
         |    AS id_catalog,
         |  string_split(regexp_replace(doc.id, '^"|"$$', '', 'g'), '"."')[2]
         |    AS id_table,
         |  doc."table".defaultCharsetName AS charset,
         |  u.c."name" AS col_name, u.c.jdbcType AS jdbc_type,
         |  u.c.nativeType AS native_type, u.c.typeName AS type_name,
         |  u.c.typeExpression AS type_expr, u.c.charsetName AS col_charset,
         |  u.c."length" AS col_length, u.c."scale" AS col_scale,
         |  u.c."position" AS col_position, u.c."optional" AS is_optional,
         |  u.c.autoIncremented AS auto_inc, u.c."generated" AS is_generated,
         |  coalesce(array_to_string(u.c.enumValues, ','), '') AS enum_csv
         |FROM d, LATERAL unnest(doc."table".columns) AS u(c)""".stripMargin,

    "startup_timestamp" ->
      s"""$changelogSql
         |SELECT "offset", pk, op, ts_ms FROM changelog
         |WHERE ts_ms >= $TsThreshold""".stripMargin,

    "mongo_resume_tokens" ->
      s"""$changelogSql
         |SELECT "offset",
         |       '82' || printf('%08x', ts_ms // 1000)
         |            || printf('%08x', "offset" % 2147483647) AS token,
         |       (ts_ms // 1000) * 4294967296 + ("offset" % 2147483647) AS ts_value,
         |       (ts_ms // 1000) * 4294967296 + ("offset" % 2147483647)
         |         > ${(TsThreshold / 1000L) << 32} AS past_startup
         |FROM changelog""".stripMargin,

    "startup_specific_offset" ->
      s"""$changelogSql,
         |o AS (SELECT "offset", pk, ${BinlogOffsets.filePosSql} FROM changelog)
         |SELECT "offset", pk, file, pos FROM o
         |WHERE file > 'mysql-bin.000002'
         |   OR (file = 'mysql-bin.000002' AND pos > 500)""".stripMargin,

    "startup_gtid_set" ->
      s"""$changelogSql
         |SELECT "offset", pk, op, ts_ms, val, props FROM changelog
         |WHERE "offset" + 1 > 3000""".stripMargin,

    "startup_skip_events" ->
      s"""$changelogSql,
         |o AS (SELECT "offset", pk, "offset" // 4 AS tx, "offset" % 4 AS skip_events
         |      FROM changelog),
         |f AS (SELECT "offset", pk, skip_events,
         |        'mysql-bin.' || lpad(CAST(tx // ${BinlogOffsets.EventsPerFile} AS VARCHAR), 6, '0') AS file,
         |        (tx % ${BinlogOffsets.EventsPerFile}) * 4 + 4 AS pos
         |      FROM o)
         |SELECT "offset", pk, file, pos, skip_events FROM f
         |WHERE file > 'mysql-bin.000001'
         |   OR (file = 'mysql-bin.000001' AND pos > 204)
         |   OR (file = 'mysql-bin.000001' AND pos = 204 AND skip_events > 2)""".stripMargin,

    "min_starting_offset" ->
      s"""$changelogSql,
         |h AS (SELECT pk % 8 AS split_id, max("offset") AS hwm
         |      FROM changelog GROUP BY 1)
         |SELECT min(hwm) AS start_offset,
         |       'mysql-bin.' || lpad(CAST(min(hwm) // ${BinlogOffsets.EventsPerFile} AS VARCHAR), 6, '0') AS file,
         |       (min(hwm) % ${BinlogOffsets.EventsPerFile}) * 4 + 4 AS pos,
         |       count(*) AS n_splits
         |FROM h""".stripMargin
  )
}
