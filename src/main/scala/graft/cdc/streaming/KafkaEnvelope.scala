package graft.cdc.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.types.WireJsonParse

/** Debezium-envelope topic adapter — the reference's primary deployment
  * shape: a CDC stream arriving as Kafka records whose value is a Debezium
  * JSON envelope (before/after/source/op/ts_ms), consumed with the same
  * startup algebra and stateful operators as the file-backed stream.
  *
  * Reference anchors: MySqlSource.java:94-273 (the DebeziumSourceFunction
  * produced exactly these envelopes), JsonDebeziumDeserializationSchema
  * (value JSON -> change record), MySqlRecordEmitter.java (envelope ->
  * row-kind emission).
  *
  * The adapter is a pure column transform over the Kafka source's FIXED
  * schema (key/value binary + topic/partition/offset), so the SAME code path
  * serves `spark.readStream.format("kafka")` in production and an injected
  * MemoryStream (or any DataFrame with that shape) in tests — the seam is
  * the DataFrame, not a connector class. No sandbox Kafka needed to prove
  * the algebra.
  *
  * Scale: decode is a narrow per-row projection (one [[WireJsonParse]]
  * + field selects) — it preserves the source's partitioning (one Spark
  * partition per Kafka partition) and shuffles nothing. Startup filters (timestamp / specific-offset) prune before any
  * stateful operator.
  */
object KafkaEnvelope {

  /** The columns `spark.readStream.format("kafka")` emits (the subset the
    * adapter needs; timestamp/timestampType are passthrough extras).
    */
  val kafkaSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType)
  ))

  /** Debezium value-envelope schema: before/after row images, source
    * metadata, op, ts_ms.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("before", StructType(Seq(
      StructField("pk", LongType), StructField("val", DoubleType)))),
    StructField("after", StructType(Seq(
      StructField("pk", LongType), StructField("val", DoubleType)))),
    StructField("source", StructType(Seq(
      StructField("db", StringType), StructField("table", StringType),
      StructField("pos", LongType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType)
  ))

  /** Render changelog-IR rows as Kafka-shaped Debezium records: key =
    * `{"pk":N}`, value = the envelope (deletes carry the image in `before`,
    * everything else in `after` — Debezium's contract), partition = hash of
    * the key like Kafka's keyed producer. Used by tests and as a reverse
    * sink shape.
    */
  def encode(changelog: DataFrame, topic: String, nPartitions: Int): DataFrame = {
    val image = concat(
      lit("{\"pk\":"), col("pk").cast("string"),
      lit(",\"val\":"), col("val").cast("string"), lit("}"))
    val tbl = graft.cdc.merge.ChangelogOps.tableNameCol
    val source = concat(
      lit("{\"db\":\"inventory\",\"table\":\""), tbl,
      lit("\",\"pos\":"), col("offset").cast("string"), lit("}"))
    val value = concat(
      lit("{\"before\":"), when(col("op") === "d", image).otherwise(lit("null")),
      lit(",\"after\":"), when(col("op") =!= "d", image).otherwise(lit("null")),
      lit(",\"source\":"), source,
      lit(",\"op\":\""), col("op"),
      lit("\",\"ts_ms\":"), col("ts_ms").cast("string"), lit("}"))
    changelog.select(
      concat(lit("{\"pk\":"), col("pk").cast("string"), lit("}"))
        .cast("binary").as("key"),
      value.cast("binary").as("value"),
      lit(topic).as("topic"),
      pmod(col("pk"), lit(nPartitions)).cast("int").as("partition"),
      col("offset").as("offset")
    )
  }

  /** Kafka-shaped Debezium records -> the changelog IR (offset, pk, op,
    * ts_ms, val) + `table_name` from the envelope's source block (the
    * capture-list filter key, P7). The change image is `after` for upserts
    * and `before` for deletes.
    *
    * The IR's global `offset` comes from the ENVELOPE's `source.pos` (the
    * log position Debezium and the reference order by,
    * BinlogOffset.java:173-246) — NOT the Kafka transport offset, which is
    * only per-partition monotone: with nPartitions > 1 transport offsets
    * collide across partitions and carry no global order, so every
    * order-sensitive consumer (max_by upsert winners, commit ranks,
    * specific-offset startup) would pick wrong winners. The transport
    * offset is kept only as a fallback for envelopes missing `source.pos`.
    */
  def decode(kafka: DataFrame): DataFrame = {
    val env = WireJsonParse(col("value").cast("string"), envelopeSchema)
    kafka.select(col("offset").as("transport_offset"), env.as("env"))
      .select(
        coalesce(col("env.source.pos"), col("transport_offset")).as("offset"),
        coalesce(col("env.after.pk"), col("env.before.pk")).as("pk"),
        col("env.op").as("op"),
        col("env.ts_ms").as("ts_ms"),
        when(col("env.op") === "d", col("env.before.val"))
          .otherwise(col("env.after.val")).as("val"),
        col("env.source.table").as("table_name")
      )
  }
}
