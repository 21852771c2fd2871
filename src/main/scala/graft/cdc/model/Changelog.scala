package graft.cdc.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The universal IR of the engine: a changelog `DataFrame` with an explicit
  * op column, mirroring the reference's `RowData` + `RowKind` stream
  * (reference: flink-connector-debezium/.../table/RowDataDebeziumDeserializeSchema.java:118-158)
  * re-expressed as Spark columns.
  *
  * The driver's synthetic `events` table plays the DB change stream:
  *   - `event_id`   — monotone log offset (plays binlog (file,pos))
  *   - `user_id`    — primary key of the captured table
  *   - `event_type` — deterministically mapped to a CDC op:
  *        signup -> 'c' (insert), error -> 'd' (delete), view -> 'r' (read,
  *        i.e. snapshot), click/purchase -> 'u' (update)
  *     (Debezium op codes; reference Envelope ops at
  *      RowDataDebeziumDeserializeSchema.java:118-146)
  *   - `ts` -> `ts_ms` epoch millis (source.ts_ms in the envelope)
  *
  * Everything downstream (merge, emit filter, startup modes, metadata) is a
  * composable `DataFrame => DataFrame` over this shape, so the same column
  * expressions run identically under batch and Structured Streaming.
  */
object Changelog {

  /** Read one of the driver-generated parquet tables. At cluster scale this
    * is the only data entry point — a plain parquet scan that Catalyst can
    * push filters/projections into.
    *
    * `events.parquet` has shipped `ts` as either TIMESTAMP(NANOS) (which
    * Spark 4 only reads with the nanosAsLong legacy conf, surfacing as
    * LongType nanos-since-epoch) or TIMESTAMP(MICROS) (surfacing as
    * TIMESTAMP_NTZ). [[normalizeEventTs]] folds both to the engine's
    * canonical LongType epoch-nanos so everything downstream is
    * generation-independent; the confs are set idempotently so any
    * driver-created session works.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the oracle (DuckDB) treats naive parquet timestamps as UTC epochs;
    // pin the session to the same interpretation so NTZ casts are exact
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Canonicalize `events.ts` to LongType epoch-nanos regardless of the
    * parquet generation's physical type. Integer arithmetic only — micros
    * *1000 is exact and overflows Long no earlier than year 2262.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df // nanos already
      case _: org.apache.spark.sql.types.TimestampNTZType |
           _: org.apache.spark.sql.types.TimestampType =>
        // NTZ -> TS cast is wall-clock identity under the UTC session set
        // in table(); unix_micros is then the tz-free epoch
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other")
    }

  /** Debezium-style op codes. */
  val OpInsert = "c"
  val OpUpdate = "u"
  val OpDelete = "d"
  val OpRead   = "r" // snapshot row

  /** events -> canonical changelog: (offset, pk, op, ts_ms, val, props).
    * Pure narrow projection — no shuffle; filters on op/pk/ts push down to
    * the parquet scan.
    */
  def changelog(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(
      col("event_id").as("offset"),
      col("user_id").as("pk"),
      when(col("event_type") === "signup", OpInsert)
        .when(col("event_type") === "error", OpDelete)
        .when(col("event_type") === "view", OpRead)
        .otherwise(OpUpdate)
        .as("op"),
      // ts is LongType nanos (see table()); integer `div` keeps exactness —
      // double division would lose precision above 2^53.
      expr("ts div 1000000").as("ts_ms"),
      col("value").as("val"),
      col("props").as("props")
    )

  /** DuckDB CTE equivalent of [[changelog]] — prepended to oracle SQL. */
  val changelogSql: String =
    """WITH changelog AS (
      |  SELECT event_id AS "offset", user_id AS pk,
      |         CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd'
      |              WHEN 'view' THEN 'r' ELSE 'u' END AS op,
      |         epoch_ms(ts) AS ts_ms, value AS val, props
      |  FROM events)""".stripMargin

  /** The snapshot side of the hybrid source: the `customer` table read as
    * already-materialized rows (op='r', offset=-1 i.e. before all log
    * offsets). Mirrors the reference's snapshot phase where scanned rows are
    * rewritten as READs (RecordUtils.java:77-114).
    */
  def snapshot(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer").select(
      lit(-1L).as("offset"),
      col("c_custkey").as("pk"),
      lit(OpRead).as("op"),
      lit(0L).as("ts_ms"), // snapshot rows carry ts 0 (RecordUtils.java:119-147)
      col("c_acctbal").as("val"),
      lit(null).cast("string").as("props")
    )

  /** Shared oracle fragment: changelog CTE + the snapshot∪changelog union
    * feeding every materialize-flavored oracle. One definition so the three
    * materialize oracles (plain, salted, hybrid) cannot drift.
    */
  val allRowsSql: String =
    s"""$changelogSql,
       |allrows AS (
       |  SELECT "offset", pk, op, val FROM changelog
       |  UNION ALL
       |  SELECT -1 AS "offset", c_custkey AS pk, 'r' AS op, c_acctbal AS val FROM customer
       |)""".stripMargin

  /** The scalar fixture as a declared table: `pk` keys one `val` column.
    * Lifting (pk, val) rows into the generic IR over this table is how
    * the scalar entry points reuse [[RowImage]]'s algebra.
    */
  val scalarTable: RowImage.DeclaredTable = RowImage.DeclaredTable("changelog",
    StructType(Seq(StructField("pk", LongType), StructField("val", DoubleType))), Seq("pk"))

  /** Scalar `(offset, op, pk)` rows plus their value -> the 4-column
    * generic IR `(offset, op, key, after)` over [[scalarTable]].
    */
  private[cdc] def asRowImage(df: DataFrame, value: Column): DataFrame =
    df.select(col("offset"), col("op"),
      struct(col("pk")).cast(scalarTable.keyType).as("key"),
      struct(col("pk"), value).cast(scalarTable.schema).as("after"))

  /** J1/W1 — snapshot ⊕ changelog upsert merge, last-writer-wins per key,
    * trailing deletes dropped. The reference does this with an in-memory
    * LinkedHashMap per split (RecordUtils.java:77-114 upsertBinlog); here it
    * is [[RowImage.lastWriterWins]] grouped by the bare `pk` column.
    */
  def upsertMaterialize(snapshot: DataFrame, changes: DataFrame): DataFrame =
    scalarOut(RowImage.lastWriterWins(snapshot.unionByName(changes), col("pk"), "val"))

  /** Scalar merge winners as live rows (pk, last_offset, last_op, val):
    * deletes dropped.
    */
  private[cdc] def scalarOut(merged: DataFrame): DataFrame =
    merged.where(col("last.op") =!= OpDelete).select(
      col("pk"),
      col("last.offset").as("last_offset"),
      col("last.op").as("last_op"),
      col("last.val").as("val"))
}
