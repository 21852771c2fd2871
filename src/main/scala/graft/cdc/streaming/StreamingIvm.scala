package graft.cdc.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.model.{Changelog, RowImage}
import graft.cdc.model.RowImage.DeclaredTable
import graft.cdc.merge.IncrementalJoin

/** STREAMING incremental view maintenance — [[IncrementalJoin]]'s
  * delta-join algebra run continuously under `foreachBatch`, maintaining a
  * persistent JOIN view (and its JOIN+GROUP BY rollup) across micro-batch
  * boundaries.
  *
  * The cross-batch insight that keeps this exact: a batch delta at offset
  * `o` can only join versions live AT `o`, and every version closed in an
  * earlier batch ended at an offset below the current batch's range — so
  * the only state the maintainer must carry is each side's OPEN versions
  * (one IR frame per live pk, carrying its ORIGINAL start offset). Batch
  * deltas then join `versionIntervals(openState ∪ batchFrames)` and the
  * algebra is bit-identical to the batch fold over the whole log —
  * StreamingIvmSpec proves stream == batch across arbitrary splits.
  *
  * State layout: three parquet tables under `stateDir`
  * (`versions_a`, `versions_b`, `view`, `viewagg`), each versioned by
  * micro-batch id (`v=<batchId>`). A batch reads `v = batchId-1` and
  * writes `v = batchId`, so a replayed batch (foreachBatch's
  * at-least-once) overwrites its own output idempotently — the
  * read-previous/write-own protocol that makes the maintainer
  * exactly-once without a transactional sink.
  *
  * Scale shape per batch: the open-version state is one row per LIVE key
  * (the maintained view's natural size, not the log's); the delta join
  * shuffles batch deltas + state once on the join column; the view merge
  * is one hash aggregation keyed by the joined row. Nothing driver-side.
  */
class StreamingIvm(
    stateDir: String,
    tableA: DeclaredTable, joinA: String,
    tableB: DeclaredTable, joinB: String,
    valueField: String) extends Serializable {

  private def irSchema(t: DeclaredTable): StructType = StructType(Seq(
    StructField("offset", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("key", t.keyType),
    StructField("before", t.schema),
    StructField("after", t.schema)))

  private def viewSchema: StructType = StructType(Seq(
    StructField("a_img", tableA.schema),
    StructField("b_img", tableB.schema),
    StructField("net", LongType)))

  private def aggSchema: StructType = StructType(Seq(
    StructField(joinA, tableA.schema(joinA).dataType),
    StructField("cnt", LongType),
    StructField("total", DecimalType(28, 2))))

  private def read(spark: SparkSession, name: String, v: Long,
      schema: StructType): DataFrame = {
    val path = s"$stateDir/$name/v=$v"
    if (v >= 0 && new java.io.File(path).exists())
      spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def write(df: DataFrame, name: String, v: Long): Unit =
    df.write.mode("overwrite").parquet(s"$stateDir/$name/v=$v")

  /** Latest open-version frame per key of `comb` (state ∪ batch): the
    * last-writer-wins frame's after-image if it isn't a delete, re-tagged
    * 'r' so the next batch replays it as a snapshot-read opening.
    */
  private def openVersions(comb: DataFrame, t: DeclaredTable): DataFrame =
    RowImage.lastWriterWins(
        comb.withColumn("frame", struct(col("after"), col("ts_ms"))), col("key"), "frame")
      .where(col("last.op") =!= Changelog.OpDelete)
      .select(col("last.offset").as("offset"), lit(Changelog.OpRead).as("op"),
        col("last.frame.ts_ms").as("ts_ms"), col("key"),
        lit(null).cast(t.schema).as("before"),
        col("last.frame.after").as("after"))

  /** Process one micro-batch of interleaved envelope frames
    * `(offset, op, ts_ms, table_name, before, after)` — the single-log
    * many-tables shape every stream face of this engine emits.
    */
  def processBatch(env: DataFrame, batchId: Long): Unit = {
    val spark = env.sparkSession
    // pin the (possibly streaming-sourced) batch before multi-use
    val frames = env.localCheckpoint()
    val irA = RowImage.decodeEnvelope(
      frames.where(col("table_name") === tableA.name).drop("table_name"), tableA)
    val irB = RowImage.decodeEnvelope(
      frames.where(col("table_name") === tableB.name).drop("table_name"), tableB)
    val stA = read(spark, "versions_a", batchId - 1, irSchema(tableA))
    val stB = read(spark, "versions_b", batchId - 1, irSchema(tableB))
    val combA = stA.unionByName(irA).localCheckpoint()
    val combB = stB.unionByName(irB).localCheckpoint()

    val deltas = IncrementalJoin.joinDeltasBetween(
      IncrementalJoin.signedDeltas(irA), IncrementalJoin.versionIntervals(combA),
      joinA,
      IncrementalJoin.signedDeltas(irB), IncrementalJoin.versionIntervals(combB),
      joinB).localCheckpoint()

    // maintained JOIN view: previous nets + this batch's signs, refolded
    val prevView = read(spark, "view", batchId - 1, viewSchema)
    val newView = prevView
      .select(col("a_img"), col("b_img"), col("net"))
      .unionByName(deltas.select(col("a_img"), col("b_img"),
        col("sign").cast(LongType).as("net")))
      .groupBy(col("a_img"), col("b_img"))
      .agg(sum(col("net")).as("net"))
      .where(col("net") =!= 0)

    // maintained JOIN + GROUP BY rollup, from the delta stream alone
    val prevAgg = read(spark, "viewagg", batchId - 1, aggSchema)
    val newAgg = prevAgg
      .unionByName(deltas.groupBy(col(s"a_img.$joinA").as(joinA))
        .agg(sum(col("sign")).cast(LongType).as("cnt"),
          sum(col("sign") * col(s"a_img.$valueField"))
            .cast(DecimalType(28, 2)).as("total")))
      .groupBy(col(joinA))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("total")).cast(DecimalType(28, 2)).as("total"))
      .where(col("cnt") =!= 0)

    write(openVersions(combA, tableA), "versions_a", batchId)
    write(openVersions(combB, tableB), "versions_b", batchId)
    write(newView, "view", batchId)
    write(newAgg, "viewagg", batchId)
  }

  private def latest(name: String): Option[Long] = {
    val d = new java.io.File(s"$stateDir/$name")
    Option(d.listFiles()).toSeq.flatten
      .flatMap(f => f.getName.stripPrefix("v=").toLongOption)
      .maxOption
  }

  /** The maintained JOIN view as of the last completed batch. */
  def view(spark: SparkSession): DataFrame =
    read(spark, "view", latest("view").getOrElse(-1L), viewSchema)

  /** The maintained JOIN + GROUP BY rollup as of the last completed batch. */
  def viewAgg(spark: SparkSession): DataFrame =
    read(spark, "viewagg", latest("viewagg").getOrElse(-1L), aggSchema)
}
