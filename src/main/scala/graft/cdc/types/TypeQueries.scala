package graft.cdc.types

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.cdc.model.Changelog._

/** SURVEY.md §1.3 + §2.7 type-conversion surface (M3).
  *
  * The reference's converter zoo (RowDataDebeziumDeserializeSchema.java:
  * 271-657, MySqlTypeUtils.java:105-180) is pure per-value casting — in
  * Spark these are codegen'd `cast`/datetime functions, so each query is a
  * narrow projection with zero shuffle.
  */
object TypeQueries extends QueryPack {

  /** Declared shape shared by the TiKV / logproxy wire-face queries:
    * single-column pk (the TiDB clustered handle), decimal + date + string
    * values.
    */
  private val tikvTable = graft.cdc.model.RowImage.DeclaredTable(
    "orders_kv",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DecimalType(14, 2)),
      org.apache.spark.sql.types.StructField("o_orderdate",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType))),
    pkCols = Seq("o_orderkey"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §1.3 — unsigned widening ladder, DECIMAL(20,0) for BIGINT UNSIGNED,
    // TINYINT(1)->BOOLEAN, DECIMAL(p,s), decimal->string rendering
    "type_promotions" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_linenumber") % 2 === 1).as("bool_from_tinyint1"),
        col("l_linenumber").cast("smallint").as("smallint_from_utinyint"),
        (col("l_linenumber") * 100).cast("int").as("int_from_usmallint"),
        col("l_partkey").cast("bigint").as("bigint_from_uint"),
        // the typed casts happen here; the gate columns are string-rendered
        // because the driver's pandas round-trip turns DuckDB DECIMAL into
        // float64 while Spark parquet keeps java.math.BigDecimal — strings
        // are the only type-stable channel for decimal comparison
        col("l_orderkey").cast("decimal(20,0)").cast("string").as("dec20_from_ubigint"),
        col("l_extendedprice").cast("decimal(12,2)").cast("string").as("dec12_2"),
        col("l_extendedprice").cast("decimal(12,2)").cast("string").as("dec_str")
      )),

    // F5-F8 — Debezium temporal encodings: epoch-day->DATE, micros->millis
    // -of-day (TIME has no Spark type; int millis like the reference),
    // epoch-millis->timestamp (rendered to a millisecond string so both
    // engines compare exactly), timestamp->date
    "temporal_conversions" -> ((s, dir) => {
      val cl = changelog(s, dir)
      cl.select(
        col("offset"),
        date_add(to_date(lit("1970-01-01")), (col("offset") % 20000).cast("int"))
          .as("date_from_epoch_day"),
        expr("((`offset` * 37) % 86400000000) div 1000").as("time_ms_of_day"),
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd HH:mm:ss.SSS")
          .as("ts_str"),
        to_date(timestamp_millis(col("ts_ms"))).as("date_from_ts")
      )
    }),

    // F13 — MySQL SET -> ARRAY<STRING>. The split() IS the operator (and
    // SetToArraySpec asserts the array type); the gate columns are a
    // size + pipe-join render because the driver's pandas compare cannot
    // sort/hash raw array columns (numpy.ndarray is unhashable).
    "set_to_array" -> ((s, dir) => {
      val arr = split(
        concat(col("l_returnflag"), lit(","), col("l_linestatus")), ",")
      table(s, dir, "lineitem")
        .withColumn("set_arr", arr)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          size(col("set_arr")).as("set_len"),
          array_join(col("set_arr"), "|").as("set_str")
        )
    }),

    // F14 — Debezium-JSON envelope encode. Built with explicit concat (not
    // to_json) so the byte-for-byte rendering is engine-independent.
    "json_envelope" -> ((s, dir) =>
      changelog(s, dir).select(
        col("offset"),
        concat(
          lit("{\"pk\":"), col("pk").cast("string"),
          lit(",\"op\":\""), col("op"),
          lit("\",\"offset\":"), col("offset").cast("string"),
          lit(",\"val\":"), col("val").cast("decimal(18,2)").cast("string"),
          lit(",\"source\":{\"db\":\"inventory\",\"table\":\"users_"),
          pmod(col("pk"), lit(3)).cast("string"),
          lit("\"}}")
        ).as("envelope")
      )),

    // F14 inverse — decode the Debezium-JSON envelope back to changelog
    // fields (JsonDebeziumDeserializationSchema round trip)
    "json_envelope_decode" -> ((s, dir) => {
      val env = concat(
        lit("{\"pk\":"), col("pk").cast("string"),
        lit(",\"op\":\""), col("op"),
        lit("\",\"offset\":"), col("offset").cast("string"),
        lit(",\"val\":"), col("val").cast("decimal(18,2)").cast("string"),
        lit(",\"source\":{\"db\":\"inventory\",\"table\":\"users_"),
        pmod(col("pk"), lit(3)).cast("string"),
        lit("\"}}")
      )
      changelog(s, dir).withColumn("envelope", env).select(
        col("offset"),
        get_json_object(col("envelope"), "$.pk").cast("bigint").as("pk_parsed"),
        get_json_object(col("envelope"), "$.op").as("op_parsed"),
        get_json_object(col("envelope"), "$.val").cast("decimal(18,2)")
          .cast("string").as("val_parsed"),
        get_json_object(col("envelope"), "$.source.table").as("tbl_parsed")
      )
    }),

    // F15 — debugging string envelope (StringDebeziumDeserializationSchema:
    // record.toString() format)
    "string_envelope" -> ((s, dir) =>
      changelog(s, dir).select(
        col("offset"),
        format_string("SourceRecord{pk=%d, op=%s, offset=%d}",
          col("pk"), col("op"), col("offset")).as("rendered")
      )),

    // F16 — BSON scalar rendering zoo (MongoDBConnectorDeserializationSchema
    // .java:565-655): ObjectId -> 24-char lowercase hex, Binary -> hex,
    // Regex -> /pattern/options, MinKey/MaxKey sentinels, Decimal128 string
    "bson_scalars" -> ((s, dir) =>
      changelog(s, dir).select(
        col("offset"),
        format_string("%024x", col("offset")).as("object_id"),
        hex(substring(col("props"), 1, 4).cast("binary")).as("bin_hex"),
        concat(lit("/"), col("op"), lit("/i")).as("regex_str"),
        when(pmod(col("pk"), lit(7)) === 0, "MIN_KEY")
          .when(pmod(col("pk"), lit(7)) === 6, "MAX_KEY")
          .otherwise(col("pk").cast("string")).as("minmax_key"),
        col("val").cast("decimal(18,2)").cast("string").as("decimal128_str")
      )),

    // F19 true wire face — TiKV KV pairs: key bytes carry
    // t{table_id}_r{handle} (big-endian int64s), value bytes carry the
    // image; decode through DialectWire.decodeTikvKv + the RowImage ladder
    "tikv_kv_decode" -> ((s, dir) => {
      val t = tikvTable
      val image = struct(
        col("o_orderkey"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(14, 2))
          .as("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderstatus"))
      val ms = unix_millis(col("o_orderdate").cast("timestamp"))
      val kv = table(s, dir, "orders").select(
        DialectWire.tikvKey(lit(42L), col("o_orderkey")).as("key"),
        when(col("o_orderstatus") =!= "F",
          graft.cdc.model.RowImage.encodeImage(image, t).cast("binary")).as("value"),
        when(col("o_orderstatus") === "F", "d").otherwise("c").as("op"),
        (shiftleft(ms, 18) + col("o_orderkey") % 262144).as("commit_ts"))
      DialectWire.decodeTikvKv(kv, t).select(
        col("offset"), col("op"), col("ts_ms"), col("table_id"),
        col("key.o_orderkey").as("o_orderkey"),
        col("after.o_totalprice").cast("string").as("o_totalprice"),
        col("after.o_orderdate").as("o_orderdate"),
        col("after.o_orderstatus").as("o_orderstatus"))
    }),

    // F20 true wire face — OceanBase logproxy records: textual old/new
    // field maps + tenant metadata, heartbeat records dropped in decode
    "oceanbase_logproxy_decode" -> ((s, dir) => {
      val t = tikvTable
      val priceStr = (shift: Int) => (col("o_totalprice") + lit(shift))
        .cast(org.apache.spark.sql.types.DecimalType(14, 2)).cast("string")
      def fields(shift: Int) = map(
        lit("o_orderkey"), col("o_orderkey").cast("string"),
        lit("o_totalprice"), priceStr(shift),
        lit("o_orderdate"), col("o_orderdate").cast("date").cast("string"),
        lit("o_orderstatus"), col("o_orderstatus"))
      val base = table(s, dir, "orders").select(
        when(col("o_orderstatus") === "F", "DELETE")
          .when(col("o_orderstatus") === "P", "UPDATE")
          .otherwise("INSERT").as("rtype"),
        (unix_millis(col("o_orderdate").cast("timestamp")) / 1000)
          .cast("long").as("ts_s"),
        concat(lit("tenant_"), col("o_custkey") % 3).as("tenant"),
        lit("db1").as("db"), lit("orders").as("tbl"),
        col("o_orderkey").as("seq"),
        when(col("o_orderstatus").isin("F", "P"), fields(10)).as("olds"),
        when(col("o_orderstatus") =!= "F", fields(0)).as("news"))
      // heartbeat records ride the same stream and must be dropped
      val hb = table(s, dir, "orders").where(col("o_orderkey") % 10 === 0)
        .select(lit("HEARTBEAT").as("rtype"), lit(0L).as("ts_s"),
          lit("tenant_0").as("tenant"), lit("db1").as("db"),
          lit("orders").as("tbl"), col("o_orderkey").as("seq"),
          lit(null).cast("map<string,string>").as("olds"),
          lit(null).cast("map<string,string>").as("news"))
      val img = when(col("op") === "d", col("before")).otherwise(col("after"))
      DialectWire.decodeLogProxy(base.unionByName(hb), t)
        .withColumn("img", img).select(
          col("offset"), col("op"), col("ts_ms"), col("tenant_name"),
          col("key.o_orderkey").as("o_orderkey"),
          col("img.o_totalprice").cast("string").as("o_totalprice"),
          col("img.o_orderdate").as("o_orderdate"),
          col("img.o_orderstatus").as("o_orderstatus"))
    }),

    // F12 — WKB -> GeoJSON via the native codegen'd expression
    // (graft_wkb_geojson); only the WKB construction is a UDF (test input
    // synthesis, not part of the operator)
    "geometry_geojson" -> ((s, dir) => {
      GraftFunctions.register(s)
      val mkPoint = udf((x: Double, y: Double) => Wkb.encodePoint(x, y))
      table(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        call_function("graft_wkb_geojson",
          mkPoint(col("l_quantity"), col("l_discount"))).as("geojson")
      )
    }),

    // PostgreSQL logical-decoding textual face: test_decoding grammar
    // lines synthesized from orders (quote-doubled values, a value
    // embedding the grammar's own new-tuple marker, bare nulls, old-key/
    // new-tuple updates, commit-timestamp markers), decoded by the one
    // left-to-right token scan. PgLiveSpec replays the same decode against
    // a real PostgreSQL 15 server's replication slot.
    "pg_testdecoding_decode" -> ((s, dir) => {
      val ir = DialectWire.decodeTestDecoding(testDecodingLines(s, dir), pgOrdersTable)
      val pick = when(col("op") === "d", col("before")).otherwise(col("after"))
      ir.select(col("offset"), col("op"), col("ts_ms"), col("schema_name"),
        col("key.o_orderkey").as("o_orderkey"),
        pick.getField("o_name").as("o_name"),
        pick.getField("o_totalprice").cast("string").as("o_totalprice"),
        pick.getField("o_orderdate").as("o_orderdate"))
    })
  )

  /** The test_decoding fixture: grammar lines synthesized from orders.
    * decodeTestDecoding scans its input twice (commit-timestamp pass +
    * change pass) over what is a stored change stream in production (the
    * WAL the server wrote once). Persisted: see the fixture policy at
    * [[graft.FixtureStaging]].
    */
  def testDecodingLines(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val xid = k % 997
    val dec = org.apache.spark.sql.types.DecimalType(14, 2)
    val dt = col("o_orderdate").cast("date").cast("string")
    // a name that exercises quote doubling AND embeds the marker text
    val name = when(k % 7 === 0, lit(null).cast("string"))
      .otherwise(concat(col("o_orderpriority"),
        lit("'s new-tuple: x[text]:'y'")))
    // literal replace / hex-concat beat regexp_replace / format_string
    // (no regex engine, no java.util.Formatter) — this is fixture
    // rendering, and it runs once per JVM
    def q(c: org.apache.spark.sql.Column) =
      when(c.isNull, "null")
        .otherwise(concat(lit("'"),
          call_function("replace", c, lit("'"), lit("''")), lit("'")))
    def img(priceShift: Int) = concat(
      lit("o_orderkey[integer]:"), k,
      lit(" o_name[text]:"), q(name),
      lit(" o_totalprice[numeric]:"),
      (col("o_totalprice") + lit(priceShift)).cast(dec),
      lit(" o_orderdate[date]:"), q(dt))
    val verb = when(col("o_orderstatus") === "F", "DELETE")
      .when(col("o_orderstatus") === "P", "UPDATE")
      .otherwise("INSERT")
    val payload = when(verb === "INSERT", img(0))
      .when(verb === "UPDATE",
        concat(lit("old-key: "), img(10), lit(" new-tuple: "), img(0)))
      .otherwise(img(10))
    val base = table(s, dir, "orders")
    val lsn = concat(hex(shiftrightunsigned(k, 32)), lit("/"),
      hex(k.bitwiseAND(lit(4294967295L))))
    val changes = base.select(lsn.as("lsn"), xid.as("xid"),
      concat(lit("table public.orders: "), verb, lit(": "), payload).as("data"))
    val commits = base.select(xid.as("x")).distinct().select(
      lit("Z/0").as("lsn"), col("x").as("xid"),
      format_string("COMMIT %d (at %s+00)", col("x"),
        date_format(timestamp_seconds(lit(1704067200L) + col("x")),
          "yyyy-MM-dd HH:mm:ss")).as("data"))
    val begins = base.select(xid.as("x")).distinct().select(
      lit("Z/0").as("lsn"), col("x").as("xid"),
      format_string("BEGIN %d", col("x")).as("data"))
    changes.unionByName(commits).unionByName(begins).persist()
  }

  /** Declared shape of the test_decoding face: single-column integer pk,
    * nullable text, decimal, date.
    */
  private val pgOrdersTable = graft.cdc.model.RowImage.DeclaredTable(
    "orders",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DecimalType(14, 2)),
      org.apache.spark.sql.types.StructField("o_orderdate",
        org.apache.spark.sql.types.DateType))),
    pkCols = Seq("o_orderkey"))

  def oracles: Map[String, String] = Map(
    // the KV round trip is lossless, so the oracle recomputes the decoded
    // scalars directly: offset = commit_ts = (epoch_ms << 18) + key bits,
    // ts_ms = the TSO physical part, deletes carry no value image
    "tikv_kv_decode" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderdate, o_orderstatus,
        |             CASE WHEN o_orderstatus = 'F' THEN 'd' ELSE 'c' END AS op,
        |             epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ms
        |           FROM orders)
        |SELECT ms * 262144 + o_orderkey % 262144 AS "offset", op, ms AS ts_ms,
        |       42 AS table_id, o_orderkey,
        |       CASE WHEN op = 'c'
        |            THEN CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)
        |       END AS o_totalprice,
        |       CASE WHEN op = 'c' THEN CAST(o_orderdate AS DATE) END AS o_orderdate,
        |       CASE WHEN op = 'c' THEN o_orderstatus END AS o_orderstatus
        |FROM t""".stripMargin,

    // textual logproxy maps decode back to the same typed values; deletes
    // surface the before image (price shifted +10 in the fixture),
    // heartbeat records are dropped by the decode
    "oceanbase_logproxy_decode" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        |             o_orderstatus,
        |             CASE o_orderstatus WHEN 'F' THEN 'd' WHEN 'P' THEN 'u'
        |                  ELSE 'c' END AS op,
        |             epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 1000 AS ts_s
        |           FROM orders)
        |SELECT ts_s * 1000000 + o_orderkey AS "offset", op,
        |       ts_s * 1000 AS ts_ms,
        |       'tenant_' || (o_custkey % 3) AS tenant_name, o_orderkey,
        |       CAST(CAST(o_totalprice + CASE WHEN op = 'd' THEN 10 ELSE 0 END
        |            AS DECIMAL(14,2)) AS VARCHAR) AS o_totalprice,
        |       CAST(o_orderdate AS DATE) AS o_orderdate,
        |       o_orderstatus
        |FROM t""".stripMargin,

    // The WKB round trip (encodePoint -> graft_wkb_geojson) must reproduce
    // the input doubles exactly; both Java's Double.toString and DuckDB's
    // VARCHAR cast print the shortest round-trip decimal, and the value
    // ranges here (quantity 1..50, discount 0..0.1) stay away from the
    // scientific-notation switchover, so the rendered strings agree.
    "geometry_geojson" ->
      """SELECT l_orderkey, l_linenumber,
        |       '{"type":"Point","coordinates":['
        |         || CAST(l_quantity::DOUBLE AS VARCHAR) || ','
        |         || CAST(l_discount::DOUBLE AS VARCHAR) || ']}' AS geojson
        |FROM lineitem""".stripMargin,

    // the textual round trip is lossless, so the oracle recomputes the
    // decoded scalars from orders directly: op from the status routing,
    // ts_ms from the synthesized commit-timestamp formula, deletes carry
    // the shifted old image
    "pg_testdecoding_decode" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderpriority, o_totalprice,
        |             CAST(o_orderdate AS DATE) AS od,
        |             CASE o_orderstatus WHEN 'F' THEN 'd' WHEN 'P' THEN 'u'
        |                  ELSE 'c' END AS op,
        |             o_orderkey % 997 AS xid
        |           FROM orders)
        |SELECT k AS "offset", op,
        |       (1704067200 + xid) * 1000 AS ts_ms,
        |       'public' AS schema_name, k AS o_orderkey,
        |       CASE WHEN k % 7 = 0 THEN NULL
        |            ELSE o_orderpriority || '''s new-tuple: x[text]:''y''' END
        |         AS o_name,
        |       CAST(CAST(o_totalprice + CASE WHEN op = 'd' THEN 10 ELSE 0 END
        |            AS DECIMAL(14,2)) AS VARCHAR) AS o_totalprice,
        |       od AS o_orderdate
        |FROM t""".stripMargin,

    "type_promotions" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_linenumber % 2 = 1 AS bool_from_tinyint1,
        |       CAST(l_linenumber AS SMALLINT) AS smallint_from_utinyint,
        |       CAST(l_linenumber * 100 AS INTEGER) AS int_from_usmallint,
        |       CAST(l_partkey AS BIGINT) AS bigint_from_uint,
        |       CAST(CAST(l_orderkey AS DECIMAL(20,0)) AS VARCHAR) AS dec20_from_ubigint,
        |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS dec12_2,
        |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS dec_str
        |FROM lineitem""".stripMargin,

    "temporal_conversions" ->
      s"""$changelogSql
         |SELECT "offset",
         |       DATE '1970-01-01' + CAST("offset" % 20000 AS INTEGER)
         |         AS date_from_epoch_day,
         |       (("offset" * 37) % 86400000000) // 1000 AS time_ms_of_day,
         |       strftime(make_timestamp(ts_ms * 1000), '%Y-%m-%d %H:%M:%S.%g')
         |         AS ts_str,
         |       CAST(make_timestamp(ts_ms * 1000) AS DATE) AS date_from_ts
         |FROM changelog""".stripMargin,

    "string_envelope" ->
      s"""$changelogSql
         |SELECT "offset",
         |       printf('SourceRecord{pk=%d, op=%s, offset=%d}', pk, op, "offset")
         |         AS rendered
         |FROM changelog""".stripMargin,

    "json_envelope_decode" ->
      s"""$changelogSql,
         |e AS (SELECT "offset",
         |        '{"pk":' || pk || ',"op":"' || op || '","offset":' || "offset"
         |        || ',"val":' || CAST(CAST(val AS DECIMAL(18,2)) AS VARCHAR)
         |        || ',"source":{"db":"inventory","table":"users_' || (pk % 3)
         |        || '"}}' AS envelope
         |      FROM changelog)
         |SELECT "offset",
         |       CAST(json_extract_string(envelope, '$$.pk') AS BIGINT) AS pk_parsed,
         |       json_extract_string(envelope, '$$.op') AS op_parsed,
         |       CAST(CAST(json_extract_string(envelope, '$$.val') AS DECIMAL(18,2))
         |         AS VARCHAR) AS val_parsed,
         |       json_extract_string(envelope, '$$.source.table') AS tbl_parsed
         |FROM e""".stripMargin,

    "bson_scalars" ->
      s"""$changelogSql
         |SELECT "offset",
         |       printf('%024x', "offset") AS object_id,
         |       hex(CAST(substring(props, 1, 4) AS BLOB)) AS bin_hex,
         |       '/' || op || '/i' AS regex_str,
         |       CASE WHEN pk % 7 = 0 THEN 'MIN_KEY'
         |            WHEN pk % 7 = 6 THEN 'MAX_KEY'
         |            ELSE CAST(pk AS VARCHAR) END AS minmax_key,
         |       CAST(CAST(val AS DECIMAL(18,2)) AS VARCHAR) AS decimal128_str
         |FROM changelog""".stripMargin,

    "set_to_array" ->
      """SELECT l_orderkey, l_linenumber,
        |       len(string_split(l_returnflag || ',' || l_linestatus, ','))
        |         AS set_len,
        |       array_to_string(string_split(l_returnflag || ',' || l_linestatus,
        |         ','), '|') AS set_str
        |FROM lineitem""".stripMargin,

    "json_envelope" ->
      s"""$changelogSql
         |SELECT "offset",
         |       '{"pk":' || pk || ',"op":"' || op || '","offset":' || "offset"
         |       || ',"val":' || CAST(CAST(val AS DECIMAL(18,2)) AS VARCHAR)
         |       || ',"source":{"db":"inventory","table":"users_' || (pk % 3)
         |       || '"}}' AS envelope
         |FROM changelog""".stripMargin
  )
}
