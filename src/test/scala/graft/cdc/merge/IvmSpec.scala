package graft.cdc.merge

import graft.SparkTestBase
import graft.cdc.model.{Changelog, IvmQueries, RowImage, RowImageQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Properties of the changelog-analytics operators beyond what the DuckDB
  * oracles pin down:
  *
  *   - the join-delta stream is PREFIX-CONSISTENT: truncated at ANY offset
  *     it folds to the join of the two table states as of that offset
  *     (the oracle only checks the full-log endpoint);
  *   - compaction preserves materialization: replaying the compacted log
  *     (tombstones included) yields the same state as replaying the full
  *     log;
  *   - as-of materialization at the log's end equals the plain merge, and
  *     the diff between two offsets really rewrites state(lo) to
  *     state(hi).
  */
class IvmSpec extends SparkTestBase {

  private def ordersEnv = IvmQueries.ordersEnvelope(spark, sfDir)
  private def custEnv = IvmQueries.customerEnvelope(spark, sfDir)

  /** lineitem frames up to `maxOrderkey`. sf0.001 carries one duplicated
    * row identity — two frames with the SAME offset but different images —
    * which the last-writer-wins order resolves like any other tie.
    */
  private def lineitemEnv(maxOrderkey: Long): DataFrame =
    RowImageQueries.envelopeFrom(
      Changelog.table(spark, sfDir, "lineitem").where(col("l_orderkey") <= maxOrderkey))

  /** Direct (non-incremental) join of the two materialized states as of
    * `cut`: the ground truth the folded delta prefix must reproduce.
    */
  private def directJoin(cut: Long): Set[(Long, Long, String, String, String)] = {
    def state(env: DataFrame, t: RowImage.DeclaredTable) =
      RowImage.upsertMaterialize(
        RowImage.decodeEnvelope(env.where(col("offset") <= cut), t), t)
    val o = state(ordersEnv, IvmQueries.ordersJoinTable)
    val c = state(custEnv, IvmQueries.customerTable)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("string"),
        col("c_name"), col("c_acctbal").cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))
      .toSet
  }

  test("join-delta stream is prefix-consistent at arbitrary cut offsets") {
    val irA = RowImage.decodeEnvelope(ordersEnv, IvmQueries.ordersJoinTable)
      .localCheckpoint()
    val irB = RowImage.decodeEnvelope(custEnv, IvmQueries.customerTable)
      .localCheckpoint()
    val deltas = IncrementalJoin.joinDeltas(
      irA, "o_custkey", irB, "c_custkey").localCheckpoint()
    // cuts: mid-initial-frames, between the frame bands, mid-second-band
    for (cut <- Seq(60000L, 2000000L, 20050000L, Long.MaxValue)) {
      val folded = IncrementalJoin
        .foldDeltas(deltas.where(col("offset") <= cut))
        .select(col("a_img.o_orderkey"), col("a_img.o_custkey"),
          col("a_img.o_totalprice").cast("string"),
          col("b_img.c_name"), col("b_img.c_acctbal").cast("string"),
          col("net"))
        .collect()
      assert(folded.forall(_.getLong(5) == 1L), s"net != 1 at cut $cut")
      val got = folded.map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
      assert(got == directJoin(cut), s"fold != direct join at cut $cut")
    }
  }

  test("maintained join+group-by equals aggregating the folded view") {
    // the agg folds the DELTAS directly; the folded joined view (net=1
    // rows) aggregated the ordinary way is the ground truth — including
    // the fixture's group-moving o_custkey update
    val agg = IncrementalJoin.maintainJoinAgg(
        ordersEnv, IvmQueries.ordersJoinTable, "o_custkey",
        custEnv, IvmQueries.customerTable, "c_custkey", "o_totalprice")
      .select(col("o_custkey"), col("cnt"), col("total").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val direct = IncrementalJoin.materializeJoin(
        ordersEnv, IvmQueries.ordersJoinTable, "o_custkey",
        custEnv, IvmQueries.customerTable, "c_custkey")
      .groupBy(col("a_img.o_custkey").as("o_custkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("a_img.o_totalprice")).as("total"))
      .select(col("o_custkey"), col("cnt"), col("total").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(agg.nonEmpty && agg == direct)
  }

  test("streaming IVM under foreachBatch equals the batch fold across splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    // one interleaved log (the single-binlog model), tagged by table name
    val tagged = ordersEnv
      .withColumn("table_name", lit(IvmQueries.ordersJoinTable.name))
      .unionByName(custEnv
        .withColumn("table_name", lit(IvmQueries.customerTable.name)))
      .select("offset", "op", "ts_ms", "table_name", "before", "after")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4), r.getString(5)))
      .sortBy(_._1)

    val stateDir = java.nio.file.Files.createTempDirectory("ivm_stream").toString
    val maintainer = new graft.cdc.streaming.StreamingIvm(
      stateDir,
      IvmQueries.ordersJoinTable, "o_custkey",
      IvmQueries.customerTable, "c_custkey", "o_totalprice")

    val stream = MemoryStream[(Long, String, Long, String, String, String)]
    val q = stream.toDS()
      .toDF("offset", "op", "ts_ms", "table_name", "before", "after")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        maintainer.processBatch(batch, id)
      }
      .start()
    // three uneven splits — each boundary lands inside live intervals
    val cuts = Seq(tagged.length / 5, tagged.length / 2, tagged.length)
    var from = 0
    for (to <- cuts) {
      stream.addData(tagged.slice(from, to).toIndexedSeq)
      q.processAllAvailable()
      from = to
    }
    q.stop()

    def viewSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a_img.o_orderkey"), col("a_img.o_custkey"),
        col("a_img.o_totalprice").cast("string"),
        col("b_img.c_name"), col("b_img.c_acctbal").cast("string"), col("net"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSet
    val streamed = viewSet(maintainer.view(spark))
    val batch = viewSet(IncrementalJoin.materializeJoin(
      ordersEnv, IvmQueries.ordersJoinTable, "o_custkey",
      custEnv, IvmQueries.customerTable, "c_custkey"))
    assert(streamed.nonEmpty && streamed == batch)

    val streamedAgg = maintainer.viewAgg(spark)
      .select(col("o_custkey"), col("cnt"),
        col("total").cast("decimal(18,2)").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val batchAgg = IncrementalJoin.maintainJoinAgg(
        ordersEnv, IvmQueries.ordersJoinTable, "o_custkey",
        custEnv, IvmQueries.customerTable, "c_custkey", "o_totalprice")
      .select(col("o_custkey"), col("cnt"),
        col("total").cast("decimal(18,2)").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamedAgg.nonEmpty && streamedAgg == batchAgg)

    // a replayed batch (foreachBatch at-least-once) is idempotent: rerun
    // the LAST batch's frames against the same state version
    val lastBatch = tagged.slice(cuts(1), cuts(2))
      .toSeq.toDF("offset", "op", "ts_ms", "table_name", "before", "after")
    maintainer.processBatch(lastBatch, 2L)
    assert(viewSet(maintainer.view(spark)) == batch)
  }

  test("compacted log materializes to the same state as the full log") {
    val t = RowImageQueries.lineitemTable
    val env = lineitemEnv(2000)
    val full = RowImage.upsertMaterializeEnvelope(env, t)
    // re-encode the compacted frames as a wire envelope and replay it
    val compacted = RowImage.compactLogEnvelope(env, t)
    val img = struct(t.schema.fieldNames.map(col).toIndexedSeq: _*)
    val replayEnv = compacted.select(
      col("offset"), col("op"), col("ts_ms"),
      lit(null).cast("string").as("before"),
      when(col("op") =!= Changelog.OpDelete,
        RowImage.encodeImage(img, t)).as("after"))
    val replayed = RowImage.upsertMaterializeEnvelope(replayEnv, t)
    def canon(df: DataFrame) = df
      .select(col("l_partkey"), col("l_suppkey"), col("last_offset"),
        col("l_quantity").cast("string"), col("l_returnflag"))
      .collect().map(_.toSeq).toSet
    val f = canon(full)
    assert(f.nonEmpty && f == canon(replayed))
    // tombstones really are retained: the compacted log must carry 'd'
    assert(compacted.where(col("op") === Changelog.OpDelete).limit(1)
      .count() == 1L)
  }

  test("as-of at the log end equals the plain merge; diff rewrites lo to hi") {
    val t = RowImageQueries.lineitemTable
    val env = lineitemEnv(2000).localCheckpoint()
    val plain = RowImage.upsertMaterializeEnvelope(env, t)
    val asOfEnd = RowImage.upsertMaterializeEnvelopeAsOf(env, t, Long.MaxValue)
    def keyed(df: DataFrame) = df
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("string"), col("l_shipts"),
        col("l_returnflag"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2),
        String.valueOf(r.get(3)), r.getString(4)))
      .toMap
    assert(keyed(plain) == keyed(asOfEnd) && keyed(plain).nonEmpty)

    // apply the lo->hi diff onto state(lo); must land exactly on state(hi)
    val lo = 40L // orderkey 5 * 8
    val hi = Long.MaxValue
    val sLo = keyed(RowImage.upsertMaterializeEnvelopeAsOf(env, t, lo))
    val sHi = keyed(RowImage.upsertMaterializeEnvelopeAsOf(env, t, hi))
    val diff = RowImage.changesBetweenEnvelope(env, t, lo, hi)
      .select(col("row_kind"),
        col("key.l_partkey"), col("key.l_suppkey"),
        col("img.l_quantity").cast("string"),
        col("img.l_shipts"), col("img.l_returnflag"))
      .collect()
    val applied = diff.foldLeft(sLo) { (st, r) =>
      val k = (r.getLong(1), r.getLong(2))
      val v = (r.getString(3), String.valueOf(r.get(4)), r.getString(5))
      r.getString(0) match {
        case "+I" | "+U" => st + (k -> v)
        case "-D" =>
          assert(st.get(k).contains(v), s"-D retracts a non-live image at $k")
          st - k
        case "-U" =>
          assert(st.get(k).contains(v), s"-U retracts a non-live image at $k")
          st - k
      }
    }
    assert(applied == sHi && diff.nonEmpty)
  }

  test("the IVM customer and orders envelopes render once and are served from the cache") {
    assertRendersOnce(custEnv)
    assertRendersOnce(ordersEnv)
  }

  test("the incremental join recomputes after the IVM fixtures' cached blocks are lost") {
    assertSurvivesBlockLoss(custEnv, ordersEnv)(
      graft.SparkEntry.queries("rowimage_incremental_join")(spark, sfDir))
  }
}
