package graft.cdc.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.types.WireJsonParse

/** Schema-history payload codec (T9) — the reference round-trips full
  * `TableChanges.TableChange` documents through state so a restarted job can
  * rebuild every captured table's schema (FlinkJsonTableChangeSerializer
  * .java:40-120: type/id/table{defaultCharsetName, primaryKeyColumnNames,
  * columns[{name, jdbcType, typeName, length, scale, position, optional}]}).
  *
  * Spark-first: the document is a typed STRUCT column; encode/decode are
  * `to_json` and the [[graft.cdc.types.WireJsonParse]] kernel
  * (schema-checked at analysis time), so a schema-history table is just a
  * DataFrame of (offset, table, change_json) rows persisted to any sink and
  * decoded back on restart — no custom serializer class, no binary state
  * format.
  */
object TableChangeCodec {

  /** One column spec, mirroring the serializer's column document. */
  val columnType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("jdbcType", IntegerType, nullable = false),
    StructField("typeName", StringType, nullable = false),
    StructField("length", IntegerType, nullable = true),
    StructField("scale", IntegerType, nullable = true),
    StructField("position", IntegerType, nullable = false),
    StructField("optional", BooleanType, nullable = false)
  ))

  /** The TableChange document: CREATE | ALTER | DROP + table identity +
    * the full table spec.
    */
  val tableChangeType: StructType = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("table", StructType(Seq(
      StructField("defaultCharsetName", StringType, nullable = true),
      StructField("primaryKeyColumnNames", ArrayType(StringType, containsNull = false)),
      StructField("columns", ArrayType(columnType, containsNull = false))
    )))
  ))

  /** Struct -> JSON payload (what the history table stores). */
  def encode(change: Column): Column = to_json(change)

  /** JSON payload -> typed struct (what a restarting reader consumes). */
  def decode(json: Column): Column = WireJsonParse(json, tableChangeType)

  // ---------------------------------------------------------------------
  // Debezium/Flink-CDC schema-history WIRE COMPATIBILITY. The reference
  // persists TableChange documents in the exact field set and order of
  // FlinkJsonTableChangeSerializer.java:55-107 (Debezium's
  // JsonTableChangeSerializer + the enumValues addition): a user pointing
  // this engine at an EXISTING history topic must decode those records,
  // and a history written here must be readable by the reference. Field
  // order below IS the serializer's insertion order — to_json emits struct
  // fields in declaration order, which is what makes the round trip
  // byte-identical.
  // ---------------------------------------------------------------------

  /** The reference's column document (FlinkJsonTableChangeSerializer
    * .java:78-107): always-present name/jdbcType/typeName/typeExpression/
    * charsetName/position/optional/autoIncremented/generated/enumValues,
    * conditionally-present nativeType/length/scale (omitted when unset).
    */
  val debeziumColumnType: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("jdbcType", IntegerType, nullable = false),
    StructField("nativeType", IntegerType, nullable = true),
    StructField("typeName", StringType, nullable = false),
    StructField("typeExpression", StringType, nullable = true),
    StructField("charsetName", StringType, nullable = true),
    StructField("length", IntegerType, nullable = true),
    StructField("scale", IntegerType, nullable = true),
    StructField("position", IntegerType, nullable = false),
    StructField("optional", BooleanType, nullable = false),
    StructField("autoIncremented", BooleanType, nullable = true),
    StructField("generated", BooleanType, nullable = true),
    StructField("enumValues", ArrayType(StringType, containsNull = false), nullable = true)
  ))

  /** The reference's TableChange document. DROP still carries a `table`
    * document (an empty editor: null charset, [] pk, [] columns) —
    * FlinkJsonTableChangeSerializer.java:55-61 always sets it.
    */
  val debeziumTableChangeType: StructType = StructType(Seq(
    StructField("type", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("table", StructType(Seq(
      StructField("defaultCharsetName", StringType, nullable = true),
      StructField("primaryKeyColumnNames", ArrayType(StringType, containsNull = false)),
      StructField("columns", ArrayType(debeziumColumnType, containsNull = false))
    )))
  ))

  /** Tolerant decode of a reference-serialized history record. The parse
    * maps by name: fields absent from a record (nativeType/length/scale, or
    * everything this engine's compact [[tableChangeType]] form doesn't
    * carry) decode to null, unknown extra fields are ignored — the analog
    * of the reference deserializer's null-checked getInteger ladder
    * (FlinkJsonTableChangeSerializer.java:133-186).
    */
  def decodeDebezium(json: Column): Column = WireJsonParse(json, debeziumTableChangeType)

  /** Re-serialize a decoded change in the reference's wire form. Two
    * asymmetric null conventions coexist in one record: charsetName /
    * defaultCharsetName / typeExpression serialize as explicit nulls while
    * unset nativeType/length/scale are OMITTED — so emit with explicit
    * nulls, then strip exactly the three conditional keys. The conditional
    * keys are never the last field of a column document (position et al.
    * always follow), so the trailing-comma form is total.
    */
  def encodeDebezium(change: Column): Column =
    regexp_replace(
      to_json(change, java.util.Map.of("ignoreNullFields", "false")),
      """"(nativeType|length|scale)":null,""", "")

  /** Unquote a Debezium `TableId.toDoubleQuotedString` identity —
    * `"inventory"."users_1"` -> [inventory, users_1]. Parts are split on
    * the quote-dot-quote separator after shedding the outer quotes (every
    * part is always quoted in this form).
    */
  def tableIdParts(id: Column): Column =
    split(regexp_replace(id, """^"|"$""", ""), """"\.\"""")

  /** Render a decoded change as DDL — the `ddl` field a Debezium
    * HistoryRecord carries next to the document. Deterministic string
    * build so it is oracle-checkable: `CREATE TABLE id (col TYPE[(len)]
    * [NOT NULL], ..., PRIMARY KEY (pks))` (ALTER/DROP render their verb).
    */
  def ddl(change: Column): Column = {
    val cols = aggregate(
      transform(change.getField("table").getField("columns"),
        c => concat(
          c.getField("name"), lit(" "), c.getField("typeName"),
          when(c.getField("length").isNotNull,
            concat(lit("("), c.getField("length").cast("string"), lit(")")))
            .otherwise(lit("")),
          when(!c.getField("optional"), lit(" NOT NULL")).otherwise(lit("")))),
      lit(""),
      (acc, x) => when(acc === "", x).otherwise(concat(acc, lit(", "), x)))
    val pk = array_join(change.getField("table").getField("primaryKeyColumnNames"), ", ")
    val body = concat(
      lit("("), cols,
      when(pk =!= "", concat(lit(", PRIMARY KEY ("), pk, lit(")"))).otherwise(lit("")),
      lit(")"))
    when(change.getField("type") === "DROP",
      concat(lit("DROP TABLE "), change.getField("id")))
      .when(change.getField("type") === "ALTER",
        concat(lit("ALTER TABLE "), change.getField("id"), lit(" "), body))
      .otherwise(concat(lit("CREATE TABLE "), change.getField("id"), lit(" "), body))
  }

  /** The `users_N` fixture spec in the FULL reference wire form (what
    * [[encodeDebezium]] serializes): double-quoted TableId, every
    * always-present Debezium column field, conditional nativeType/length/
    * scale left null where a MySQL capture leaves them unset, plus an ENUM
    * column exercising the Flink enumValues addition. nativeType ids are
    * MySQL's (8=BIGINT, 247=ENUM).
    */
  def debeziumUsersChange(changeType: Column, tableName: Column): Column = {
    val nullInt = lit(null).cast("int")
    val nullStr = lit(null).cast("string")
    def col0(name: String, jdbc: Int, native: Column, typeName: String,
        charset: Column, length: Column, scale: Column, pos: Int,
        opt: Boolean, autoInc: Boolean, enums: Column) =
      struct(lit(name).as("name"), lit(jdbc).as("jdbcType"),
        native.as("nativeType"), lit(typeName).as("typeName"),
        lit(typeName).as("typeExpression"), charset.as("charsetName"),
        length.as("length"), scale.as("scale"), lit(pos).as("position"),
        lit(opt).as("optional"), lit(autoInc).as("autoIncremented"),
        lit(false).as("generated"), enums.as("enumValues"))
    val noEnums = array().cast("array<string>")
    struct(
      changeType.as("type"),
      concat(lit("\"inventory\".\""), tableName, lit("\"")).as("id"),
      struct(
        lit("utf8mb4").as("defaultCharsetName"),
        array(lit("pk")).as("primaryKeyColumnNames"),
        array(
          col0("pk", -5, lit(8), "BIGINT", nullStr, nullInt, nullInt,
            1, opt = false, autoInc = true, noEnums),
          col0("val", 8, nullInt, "DOUBLE", nullStr, nullInt, nullInt,
            2, opt = false, autoInc = false, noEnums),
          col0("k", 4, nullInt, "INT", nullStr, lit(11), nullInt,
            3, opt = true, autoInc = false, noEnums),
          col0("status", 1, lit(247), "ENUM", lit("utf8mb4"), lit(7), nullInt,
            4, opt = true, autoInc = false, array(lit("'on'"), lit("'off'")))
        ).as("columns")
      ).as("table")
    )
  }

  /** The fixture's table spec as a change struct: the captured `users_N`
    * shards carry (pk BIGINT, val DOUBLE, k INT nullable) with PRIMARY KEY
    * (pk) — `k` is the props-payload column the ALTER introduces.
    */
  def usersChange(changeType: Column, tableName: Column): Column =
    struct(
      changeType.as("type"),
      concat(lit("inventory."), tableName).as("id"),
      struct(
        lit("utf8mb4").as("defaultCharsetName"),
        array(lit("pk")).as("primaryKeyColumnNames"),
        array(
          struct(lit("pk").as("name"), lit(-5).as("jdbcType"),
            lit("BIGINT").as("typeName"), lit(null).cast("int").as("length"),
            lit(null).cast("int").as("scale"), lit(1).as("position"),
            lit(false).as("optional")),
          struct(lit("val").as("name"), lit(8).as("jdbcType"),
            lit("DOUBLE").as("typeName"), lit(null).cast("int").as("length"),
            lit(null).cast("int").as("scale"), lit(2).as("position"),
            lit(false).as("optional")),
          struct(lit("k").as("name"), lit(4).as("jdbcType"),
            lit("INT").as("typeName"), lit(11).as("length"),
            lit(null).cast("int").as("scale"), lit(3).as("position"),
            lit(true).as("optional"))
        ).as("columns")
      ).as("table")
    )
}
