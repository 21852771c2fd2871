package graft.cdc.source

import graft.SparkTestBase
import graft.cdc.model.{Changelog, RowImage, RowImageQueries}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DecimalType, StringType}

/** The generic-envelope face of the DSv2 stream (`envelope=true`) composed
  * with the schema-driven sink: whole JSON row images tailed from a live
  * change table, decoded through the declared schema per micro-batch, and
  * applied with the offset-guarded composite-key upsert — the reference's
  * binlog -> Debezium envelope -> declared-RowType projection -> sink
  * pipeline (RowDataDebeziumDeserializeSchema + JdbcSink), streaming
  * end-to-end over an arbitrary table shape.
  */
class EnvelopeStreamSpec extends SparkTestBase {

  private val t = RowImageQueries.lineitemTable

  /** Envelope frames for a capped lineitem slice, re-numbered to the log's
    * dense SEQ domain (delivery order — the stream's admission control and
    * split planning are range arithmetic over SEQ).
    */
  private def frames(): Array[(Long, String, Long, String, String, String)] =
    RowImageQueries.sequencedLog(
      Changelog.table(spark, sfDir, "lineitem").where(col("l_orderkey") <= 100))

  /** The batch-side truth for a set of frames: envelope DataFrame ->
    * envelope-native last-writer-wins merge.
    */
  private def batchTruth(fs: Array[(Long, String, Long, String, String, String)]) = {
    import spark.implicits._
    val env = fs.toSeq.toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    RowImage.upsertMaterializeEnvelope(env, t)
  }

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.select(col("l_partkey"), col("l_suppkey"), col("last_offset"),
      col("l_quantity").cast(StringType), col("l_extendedprice").cast(StringType),
      col("l_shipdate").cast(StringType), col("l_shipts").cast(StringType),
      col("l_returnflag"), hex(col("l_flagbin"))).collect().toSet

  test("incremental agg composes under streaming: delta state == batch across splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val fs = frames()
    val stream = MemoryStream[(Long, String, Long, String, String)]
    // the SAME operator, verbatim — its final groupBy/agg becomes the
    // streaming state; complete mode surfaces the maintained aggregate
    val agg = RowImage.incrementalAggEnvelope(
      stream.toDS().toDF("offset", "op", "ts_ms", "before", "after"),
      t, "l_returnflag", "l_quantity")
    val q = agg.writeStream.format("memory").queryName("inc_agg")
      .outputMode("complete").start()
    val recs = fs.map { case (o, op, ts, _, b, a) => (o, op, ts, b, a) }
    val splits = Seq(recs.take(60), recs.slice(60, 61), recs.drop(61))
    for (b <- splits) { stream.addData(b.toIndexedSeq); q.processAllAvailable() }
    q.stop()
    def norm2(df: org.apache.spark.sql.DataFrame) = df
      .select(col("l_returnflag"), col("net_rows"),
        col("net_sum").cast(DecimalType(20, 2)).cast(StringType)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val got = norm2(spark.table("inc_agg"))
    val want = norm2(RowImage.incrementalAggEnvelope(
      recs.toSeq.toDF("offset", "op", "ts_ms", "before", "after"),
      t, "l_returnflag", "l_quantity"))
    assert(got == want && got.nonEmpty)
  }

  test("envelope stream + generic sink: crash mid-drain, resume, exactly-once effect") {
    val fs = frames()
    val dir = java.nio.file.Files.createTempDirectory("derby_env").toString
    val url = s"jdbc:derby:$dir/logdb;create=true"
    CdcMicroBatch.appendEnvelopeTable(url, "ENV_LOG", fs.iterator)
    val ckpt = java.nio.file.Files.createTempDirectory("env_ckpt").toString

    def start() = RowImage.applyEnvelopeStream(
      CdcSource.read(spark)
        .option("envelope", "true")
        .option("max-events-per-trigger", 64)
        .loadMicroBatch(url, "ENV_LOG"),
      t, url, "ENV_STATE", ckpt)

    // phase 1: let at least one micro-batch commit, then stop mid-drain —
    // the crash window the offset guard must absorb on resume
    val q1 = start()
    val deadline = System.nanoTime + 60L * 1000000000L
    while (q1.recentProgress.length < 2 && System.nanoTime < deadline)
      Thread.sleep(20)
    q1.stop()

    // phase 2: same checkpoint, same state table — drain the rest
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = norm(RowImage.readState(spark, t, url, "ENV_STATE"))
    assert(got == norm(batchTruth(fs)))

    // a full replay from a FRESH checkpoint redelivers everything; every
    // row is a per-key no-op under the offset guard (exactly-once in effect)
    val ckpt2 = java.nio.file.Files.createTempDirectory("env_ckpt2").toString
    val q3 = RowImage.applyEnvelopeStream(
      CdcSource.read(spark).option("envelope", "true").loadMicroBatch(url, "ENV_LOG"),
      t, url, "ENV_STATE", ckpt2, trigger = Some(Trigger.AvailableNow()))
    assert(q3.awaitTermination(120000), "replay drain did not terminate")
    assert(norm(RowImage.readState(spark, t, url, "ENV_STATE")) == got)
  }

  test("generic hybrid handover: snapshot applyRows + streamed tail == direct merge") {
    import spark.implicits._
    val fs = frames()
    val w = fs.length / 2 - 1 // snapshot watermark in the log's SEQ domain

    val dir = java.nio.file.Files.createTempDirectory("derby_hy").toString
    val url = s"jdbc:derby:$dir/logdb;create=true"
    // the change log starts AT the handover — the stream never sees the
    // prefix, exactly like a binlog tailed from the snapshot watermark
    CdcMicroBatch.appendEnvelopeTable(url, "HY_LOG", fs.filter(_._1 > w).iterator)

    // snapshot phase: batch-merge the prefix and seed the state table as
    // READ rows carrying their winning offsets (the offset guard then
    // totally orders them against the streamed tail)
    RowImage.createStateTable(url, t, "HY_STATE")
    val prefix = fs.filter(_._1 <= w).toSeq
      .toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    val snapIr = RowImage.upsertMaterializeEnvelope(prefix, t).select(
      col("last_offset").as("offset"),
      lit(Changelog.OpRead).as("op"),
      struct(t.pkCols.map(c => col(c).as(c)): _*).as("key"),
      struct(t.schema.fieldNames.toSeq.map(c => col(c).as(c)): _*).as("after"))
    RowImage.applyRows(snapIr, t, url, "HY_STATE")

    // log phase: drain the tail through the DSv2 envelope stream into the
    // SAME state table
    val ckpt = java.nio.file.Files.createTempDirectory("hy_ckpt").toString
    val q = RowImage.applyEnvelopeStream(
      CdcSource.read(spark)
        .option("envelope", "true")
        .option("max-events-per-trigger", 64)
        .loadMicroBatch(url, "HY_LOG"),
      t, url, "HY_STATE", ckpt, trigger = Some(Trigger.AvailableNow()))
    assert(q.awaitTermination(120000), "hybrid tail drain did not terminate")

    val got = norm(RowImage.readState(spark, t, url, "HY_STATE"))
    assert(got == norm(batchTruth(fs)))
    assert(got.nonEmpty)
  }

  test("multi-table envelope stream routes each declared shape to its state table") {
    import org.apache.spark.sql.types._
    // a second declared shape from the orders table: single-column pk,
    // different converter mix than lineitem
    val ordersTable = RowImage.DeclaredTable(
      "orders",
      StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_totalprice", DecimalType(14, 2)),
        StructField("o_orderstatus", StringType))),
      pkCols = Seq("o_orderkey"))

    val liFrames = frames().take(300)
    val ordFrames = {
      val img = struct(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(14, 2)).as("o_totalprice"),
        col("o_orderstatus"))
      Changelog.table(spark, sfDir, "orders").where(col("o_orderkey") <= 200)
        .select(col("o_orderkey").as("offset"),
          lit("c").as("op"), lit(0L).as("ts_ms"),
          lit(null).cast(StringType).as("before"),
          RowImage.encodeImage(img, ordersTable).as("after"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          "orders", r.getString(3), r.getString(4)))
        .sortBy(_._1)
    }
    // interleave both tables into one dense log
    val mixed = (liFrames.map(f => (f, "lineitem")) ++ ordFrames.map(f => (f, "orders")))
      .zipWithIndex
      .map { case (((_, op, ts, tbl, b, a), _), i) => (i.toLong, op, ts, tbl, b, a) }

    val dir = java.nio.file.Files.createTempDirectory("derby_envm").toString
    val url = s"jdbc:derby:$dir/logdb;create=true"
    CdcMicroBatch.appendEnvelopeTable(url, "ENV_LOG", mixed.iterator)
    val ckpt = java.nio.file.Files.createTempDirectory("envm_ckpt").toString

    val q = RowImage.applyEnvelopeStreamMulti(
      CdcSource.read(spark)
        .option("envelope", "true")
        .option("max-events-per-trigger", 128)
        .loadMicroBatch(url, "ENV_LOG"),
      Seq(t -> "LI_STATE", ordersTable -> "ORD_STATE"),
      url, ckpt, trigger = Some(Trigger.AvailableNow()))
    assert(q.awaitTermination(120000), "multi-table drain did not terminate")

    // each state table equals the batch truth of ITS slice of the log
    import spark.implicits._
    val env = mixed.toSeq.toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    assert(norm(RowImage.readState(spark, t, url, "LI_STATE")) ==
      norm(RowImage.upsertMaterializeEnvelope(env.where(col("table_name") === "lineitem"), t)))
    val ordNorm = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("o_orderkey"), col("last_offset"),
        col("o_totalprice").cast(StringType), col("o_orderstatus")).collect().toSet
    assert(ordNorm(RowImage.readState(spark, ordersTable, url, "ORD_STATE")) ==
      ordNorm(RowImage.upsertMaterializeEnvelope(env.where(col("table_name") === "orders"), ordersTable)))
  }

  test("schema widens mid-stream: v1 drain, stop, widen state, resume with v2") {
    import org.apache.spark.sql.types._
    // v1 declares lineitem WITHOUT l_flagbin; the DDL point adds it. Frames
    // before the DDL genuinely lack the field on the wire; after it they
    // carry it — decoding v2 over old frames nulls it (the drift rule)
    val v2 = t
    val v1 = RowImage.DeclaredTable(t.name,
      StructType(t.schema.fields.filterNot(_.name == "l_flagbin")), t.pkCols)

    val fs = frames()
    val (head, tail) = fs.splitAt((fs.length * 6) / 10)
    def stripFlagbin(json: String): String =
      if (json == null) null
      else json.replaceAll(""","l_flagbin":(?:"[^"]*"|null)""", "")
    val headStripped = head.map { case (seq, op, ts, tbl, b, a) =>
      (seq, op, ts, tbl, stripFlagbin(b), stripFlagbin(a)) }

    val dir = java.nio.file.Files.createTempDirectory("derby_evo2").toString
    val url = s"jdbc:derby:$dir/logdb;create=true"
    // only the pre-DDL prefix exists when phase 1 runs; the post-DDL tail
    // lands while the job is down (the reference stops emitting on an
    // in-band DDL and defers to schema recovery before resuming)
    CdcMicroBatch.appendEnvelopeTable(url, "ENV_LOG", headStripped.iterator)
    val ckpt = java.nio.file.Files.createTempDirectory("evo2_ckpt").toString

    def source() = CdcSource.read(spark).option("envelope", "true")
      .option("max-events-per-trigger", 64)
      .loadMicroBatch(url, "ENV_LOG")

    // phase 1: v1 schema over the pre-DDL log prefix
    val q1 = RowImage.applyEnvelopeStream(source(), v1, url, "EVO2_STATE", ckpt)
    q1.processAllAvailable()
    q1.stop()

    // restart path: widen the state table per the new declared schema, and
    // the post-DDL tail (carrying the new field) lands in the log
    RowImage.widenStateTable(url, v1, v2, "EVO2_STATE")
    CdcMicroBatch.appendEnvelopeTable(url, "ENV_LOG", tail.iterator)

    // phase 2: SAME checkpoint, v2 schema — post-DDL frames carry the field
    val q2 = RowImage.applyEnvelopeStream(source(), v2, url, "EVO2_STATE", ckpt)
    q2.processAllAvailable()
    q2.stop()

    // from-scratch truth: v2 decode over the WHOLE log as staged
    import spark.implicits._
    val env = (headStripped ++ tail).toSeq
      .toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    assert(norm(RowImage.readState(spark, v2, url, "EVO2_STATE")) ==
      norm(RowImage.upsertMaterializeEnvelope(env, v2)))
    // and the widened column is genuinely populated by post-DDL winners
    assert(RowImage.readState(spark, v2, url, "EVO2_STATE")
      .where(col("l_flagbin").isNotNull).count() > 0)
  }

  test("Debezium topic face streams: kafka-shaped source -> decode -> generic sink") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    import EnvelopeStreamSpec.Rec
    // kafka-shaped records for a capped slice, via the reverse sink shape
    val fs = frames().take(400)
    val env = fs.toSeq.toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    val recs = RowImage.encodeDebeziumTopic(env, t,
        db = "inventory", topic = "inventory.lineitem", nPartitions = 4)
      .collect()
      .map(r => Rec(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1),
        r.getString(2), r.getInt(3), r.getLong(4)))

    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("dbz")}/db;create=true"
    RowImage.createStateTable(url, t, "DBZ_STATE")
    val stream = MemoryStream[Rec]
    val q = stream.toDF().writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("dbz_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        RowImage.applyRows(RowImage.decodeDebeziumTopic(batch, t), t, url, "DBZ_STATE")
      }.start()
    // two deliveries, second one a partial REPLAY (at-least-once transport)
    stream.addData(recs.take(250).toIndexedSeq)
    q.processAllAvailable()
    stream.addData(recs.drop(150).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    assert(norm(RowImage.readState(spark, t, url, "DBZ_STATE")) == norm(batchTruth(fs.take(400))))
  }

  test("envelope reader applies the capture-list filter on the tagged log") {
    val fs = frames().take(200)
    // interleave a second table's frames in the same log (one binlog, many
    // tables); re-number so SEQ stays unique and dense
    val mixed = fs.zipWithIndex.flatMap { case ((_, op, ts, _, b, a), i) =>
      Seq((2L * i, op, ts, "lineitem", b, a),
        (2L * i + 1, op, ts, "other_table", b, a))
    }
    val dir = java.nio.file.Files.createTempDirectory("derby_envf").toString
    val url = s"jdbc:derby:$dir/logdb;create=true"
    CdcMicroBatch.appendEnvelopeTable(url, "ENV_LOG", mixed.iterator)

    val sink = "env_filter_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = CdcSource.read(spark)
      .option("envelope", "true")
      .option("table-name", "^lineitem$")
      .loadMicroBatch(url, "ENV_LOG")
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val got = spark.table(sink)
    assert(got.count() == fs.length)
    assert(got.select("table_name").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("lineitem"))
    // offsets advance over skipped rows: the filtered stream still
    // checkpoints the full log range (even seqs only in the output)
    assert(got.select("offset").collect().forall(_.getLong(0) % 2 == 0))
  }
}

object EnvelopeStreamSpec {
  /** Kafka record shape for MemoryStream injection (needs a top-level
    * Product for encoder derivation).
    */
  case class Rec(key: Array[Byte], value: Array[Byte], topic: String,
      partition: Int, offset: Long)
}
