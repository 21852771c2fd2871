package graft.cdc.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryPack
import graft.cdc.merge.IncrementalJoin
import RowImage._

/** Changelog ANALYTICS over the generic row-image IR: the maintained-view
  * and time-travel operators a changelog consumer runs downstream of the
  * source — incrementally maintained joins (the Δ(A⋈B) algebra,
  * [[IncrementalJoin]]), point-in-time (as-of) materialization, the
  * state diff between two offsets, and log compaction.
  *
  * The join fixture interleaves TWO deterministic changelogs sharing one
  * offset total order (the reference's single-binlog model — one log
  * carries every captured table): `orders` keyed by o_orderkey joined to
  * `customer` keyed by c_custkey on o_custkey = c_custkey. Rows with a
  * non-'c' lifecycle get a real two-frame history (insert of a shifted
  * before-image, then the update/delete retracting it), the orders
  * before-image carries o_custkey+1 so updates MOVE rows between join
  * groups, and offsets interleave (customers odd, orders even) so the
  * as-of version intervals genuinely matter. The oracle is the direct
  * join of the two final table states — the fold-equals-join identity.
  */
object IvmQueries extends QueryPack {

  val customerTable: DeclaredTable = DeclaredTable(
    "customer",
    StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DecimalType(12, 2))
    )),
    pkCols = Seq("c_custkey"))

  val ordersJoinTable: DeclaredTable = DeclaredTable(
    "orders",
    StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DecimalType(14, 2)),
      StructField("o_orderpriority", StringType)
    )),
    pkCols = Seq("o_orderkey"))

  /** Second-frame offset shift: far enough that initial frames of either
    * log interleave inside every row's [insert, retract) interval.
    */
  private val Shift = 20000000L

  /** Assemble a one-or-two-frame history per source row into envelope
    * frames. `op2` = the second frame's op ('c' = single-frame history).
    */
  private def history(
      src: DataFrame,
      table: DeclaredTable,
      base: Column,
      op2: Column,
      img0: Column,
      img1: Column): DataFrame = {
    val w0 = encodeImage(img0, table)
    val w1 = encodeImage(img1, table)
    val nullImg = lit(null).cast(StringType)
    def frame(off: Column, op: Column, before: Column, after: Column) =
      struct(off.as("offset"), op.as("op"), before.as("before"), after.as("after"))
    val frames = when(op2 === Changelog.OpDelete,
        array(
          frame(base, lit(Changelog.OpInsert), nullImg, w0),
          frame(base + Shift, lit(Changelog.OpDelete), w0, nullImg)))
      .when(op2 === Changelog.OpUpdate,
        array(
          frame(base, lit(Changelog.OpInsert), nullImg, w0),
          frame(base + Shift, lit(Changelog.OpUpdate), w0, w1)))
      .otherwise(array(frame(base, lit(Changelog.OpInsert), nullImg, w1)))
    src.select(explode(frames).as("f"))
      .select(col("f.offset").as("offset"), col("f.op").as("op"),
        col("f.offset").as("ts_ms"), col("f.before").as("before"),
        col("f.after").as("after"))
  }

  /** customer changelog: AUTOMOBILE rows are inserted then deleted,
    * BUILDING rows inserted as a shifted image then updated to their real
    * one, the rest are plain inserts. Offsets 4000·c+1 (odd). Persisted:
    * see the fixture policy at [[graft.FixtureStaging]].
    */
  def customerEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    customerEnvelopeFrames(spark, sfDir).persist()

  private def customerEnvelopeFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Changelog.table(spark, sfDir, "customer")
      .repartition(col("c_custkey"))
    val img1 = struct(col("c_custkey"), col("c_name"),
      col("c_acctbal").cast(DecimalType(12, 2)).as("c_acctbal"))
    val img0 = struct(col("c_custkey"), lit("OLD").as("c_name"),
      (col("c_acctbal") + 50).cast(DecimalType(12, 2)).as("c_acctbal"))
    val op2 = when(col("c_mktsegment") === "AUTOMOBILE", Changelog.OpDelete)
      .when(col("c_mktsegment") === "BUILDING", Changelog.OpUpdate)
      .otherwise(Changelog.OpInsert)
    history(t, customerTable, col("c_custkey") * 4000 + 1, op2, img0, img1)
  }

  /** orders changelog: status F = insert+delete, P = insert+update — with
    * the BEFORE image pointing at o_custkey+1, so the update is a
    * join-group MOVE — otherwise plain insert. Offsets 100·o+50 (even).
    * Persisted: see the fixture policy at [[graft.FixtureStaging]].
    */
  def ordersEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    ordersEnvelopeFrames(spark, sfDir).persist()

  private def ordersEnvelopeFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Changelog.table(spark, sfDir, "orders")
      .repartition(col("o_orderkey"))
    val img1 = struct(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast(DecimalType(14, 2)).as("o_totalprice"),
      col("o_orderpriority"))
    val img0 = struct(col("o_orderkey"),
      (col("o_custkey") + 1).as("o_custkey"),
      (col("o_totalprice") + 10).cast(DecimalType(14, 2)).as("o_totalprice"),
      lit("X").as("o_orderpriority"))
    val op2 = when(col("o_orderstatus") === "F", Changelog.OpDelete)
      .when(col("o_orderstatus") === "P", Changelog.OpUpdate)
      .otherwise(Changelog.OpInsert)
    history(t, ordersJoinTable, col("o_orderkey") * 100 + 50, op2, img0, img1)
  }

  // orderkey-threshold * 8 on the lineitem-envelope offset layout
  private val AsOf = 64000L
  private val DiffLo = 32000L
  private val DiffHi = 96000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // IVM join — the folded delta stream must equal the direct join of
    // the final table states, with net = 1 on every surviving row (the
    // self-audit column: any algebra error nets ≠ 1 and breaks the hash)
    "rowimage_incremental_join" -> ((s, dir) => {
      val view = IncrementalJoin.materializeJoin(
        ordersEnvelope(s, dir), ordersJoinTable, "o_custkey",
        customerEnvelope(s, dir), customerTable, "c_custkey")
      view.select(
        col("a_img.o_orderkey").as("o_orderkey"),
        col("a_img.o_custkey").as("o_custkey"),
        col("a_img.o_totalprice").cast(StringType).as("o_totalprice"),
        col("a_img.o_orderpriority").as("o_orderpriority"),
        col("b_img.c_name").as("c_name"),
        col("b_img.c_acctbal").cast(StringType).as("c_acctbal"),
        col("net"))
    }),

    // IVM join + aggregate — the maintained `GROUP BY` over the joined
    // view from the delta stream alone; exact decimal sums, so the fold
    // hash-matches the direct join+aggregate of the final states
    "rowimage_incremental_join_agg" -> ((s, dir) =>
      IncrementalJoin.maintainJoinAgg(
          ordersEnvelope(s, dir), ordersJoinTable, "o_custkey",
          customerEnvelope(s, dir), customerTable, "c_custkey",
          valueField = "o_totalprice")
        .select(col("o_custkey"), col("cnt"),
          col("total").cast(DecimalType(18, 2)).cast(StringType)
            .as("total"))),

    // time travel — state as of an offset: one predicate pushed under the
    // last-writer-wins merge (reaches the log scan at scale)
    "rowimage_asof_materialize" -> ((s, dir) =>
      RowImageQueries.upsertOut(upsertMaterializeEnvelopeAsOf(
        RowImageQueries.envelope(s, dir), RowImageQueries.lineitemTable, AsOf))),

    // state DIFF between two offsets: the minimal +I/-D/-U/+U changelog
    // from state(lo) to state(hi), computed in ONE hash aggregation over
    // the log (conditional struct-max winners, survivors decoded)
    "rowimage_changes_between" -> ((s, dir) => {
      val d = changesBetweenEnvelope(
        RowImageQueries.envelope(s, dir), RowImageQueries.lineitemTable,
        DiffLo, DiffHi)
      d.select(
        (col("offset") +: col("row_kind") +:
          col("key.l_partkey").as("l_partkey") +:
          col("key.l_suppkey").as("l_suppkey") +:
          RowImageQueries.valueOut(col("img"))): _*)
    }),

    // log compaction — latest frame per key, tombstones RETAINED: the
    // compacted log is still a changelog (materializing it equals
    // materializing the full log; spec-asserted in IvmSpec)
    "rowimage_compact_log" -> ((s, dir) => {
      val c = compactLogEnvelope(
        RowImageQueries.envelope(s, dir), RowImageQueries.lineitemTable)
      // l_shipts as epoch micros: a NULLABLE timestamp column (tombstones)
      // risks NaT handling differences in the driver's pandas compare —
      // integers are unambiguous on both sides
      c.select(
        col("offset"), col("op"), col("ts_ms"),
        col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast(StringType).as("l_quantity"),
        col("l_extendedprice").cast(StringType).as("l_extendedprice"),
        col("l_shipdate"), unix_micros(col("l_shipts")).as("l_shipts_us"),
        col("l_returnflag"),
        hex(col("l_flagbin")).as("l_flagbin_hex"))
    })
  )

  /** The lo/hi point-in-time image columns for the diff oracle, derived
    * from the raw changelog winners exactly like the Spark decode: decimal
    * casts applied BEFORE comparison (so a sub-cent raw difference is not
    * a change), the returnflag visible only on 'u' winners.
    */
  private def diffImgSql(p: String): Seq[String] = Seq(
    s"CAST(${p}_qty AS VARCHAR) AS l_quantity",
    s"CAST(${p}_price AS VARCHAR) AS l_extendedprice",
    s"CAST(${p}_ship AS DATE) AS l_shipdate",
    s"${p}_ship AS l_shipts",
    s"CASE WHEN ${p}_op = 'u' THEN ${p}_flag END AS l_returnflag",
    s"hex(encode(${p}_ls)) AS l_flagbin_hex")

  /** The columns of the `p`-side winner (a [[RowImageQueries.lwwRankSql]]
    * CTE named `p`) for the diff oracle.
    */
  private def diffStateSql(p: String): String =
    s"""$p.op AS ${p}_op,
       |    CAST($p.l_quantity AS DECIMAL(12,2)) AS ${p}_qty,
       |    CAST($p.l_extendedprice AS DECIMAL(14,2)) AS ${p}_price,
       |    $p.l_shipdate AS ${p}_ship, $p.l_returnflag AS ${p}_flag,
       |    $p.l_linestatus AS ${p}_ls, $p.o AS ${p}_o""".stripMargin

  def oracles: Map[String, String] = Map(
    "rowimage_incremental_join" ->
      s"""SELECT o_orderkey, o_custkey,
         |       CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR)
         |         AS o_totalprice,
         |       o_orderpriority, c_name,
         |       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
         |         AS c_acctbal,
         |       CAST(1 AS BIGINT) AS net
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderstatus <> 'F' AND c_mktsegment <> 'AUTOMOBILE'"""
        .stripMargin,

    "rowimage_incremental_join_agg" ->
      s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
         |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
         |                 AS DECIMAL(18,2)) AS VARCHAR) AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderstatus <> 'F' AND c_mktsegment <> 'AUTOMOBILE'
         |GROUP BY o_custkey""".stripMargin,

    "rowimage_asof_materialize" ->
      RowImageQueries.upsertSql(RowImageQueries.clSql, s"cl WHERE o <= $AsOf"),

    "rowimage_changes_between" ->
      s"""${RowImageQueries.clSql},
         |${RowImageQueries.lwwRankSql(s"cl WHERE o <= $DiffLo", name = "lo")},
         |${RowImageQueries.lwwRankSql(s"cl WHERE o <= $DiffHi", name = "hi")},
         |st AS (
         |  SELECT hi.l_partkey, hi.l_suppkey,
         |    ${diffStateSql("lo")},
         |    ${diffStateSql("hi")}
         |  FROM hi LEFT JOIN lo ON lo.l_partkey = hi.l_partkey
         |    AND lo.l_suppkey = hi.l_suppkey AND lo.lww_rank = 1
         |  WHERE hi.lww_rank = 1),
         |sel AS (
         |  SELECT *,
         |    (lo_o IS NOT NULL AND lo_op <> 'd') AS live_lo,
         |    (hi_o IS NOT NULL AND hi_op <> 'd') AS live_hi,
         |    (lo_qty IS NOT DISTINCT FROM hi_qty
         |     AND lo_price IS NOT DISTINCT FROM hi_price
         |     AND lo_ship IS NOT DISTINCT FROM hi_ship
         |     AND lo_ls IS NOT DISTINCT FROM hi_ls
         |     AND (CASE WHEN lo_op = 'u' THEN lo_flag END)
         |         IS NOT DISTINCT FROM
         |         (CASE WHEN hi_op = 'u' THEN hi_flag END)) AS same
         |  FROM st)
         |SELECT hi_o AS "offset", '+I' AS row_kind, l_partkey, l_suppkey,
         |       ${diffImgSql("hi").mkString(",\n       ")}
         |FROM sel WHERE NOT live_lo AND live_hi
         |UNION ALL
         |SELECT hi_o, '-D', l_partkey, l_suppkey,
         |       ${diffImgSql("lo").mkString(",\n       ")}
         |FROM sel WHERE live_lo AND NOT live_hi
         |UNION ALL
         |SELECT hi_o, '-U', l_partkey, l_suppkey,
         |       ${diffImgSql("lo").mkString(",\n       ")}
         |FROM sel WHERE live_lo AND live_hi AND NOT same
         |UNION ALL
         |SELECT hi_o, '+U', l_partkey, l_suppkey,
         |       ${diffImgSql("hi").mkString(",\n       ")}
         |FROM sel WHERE live_lo AND live_hi AND NOT same""".stripMargin,

    // ts_ms ranks tombstones tied on offset, as it does on the Spark side
    "rowimage_compact_log" ->
      s"""${RowImageQueries.clSql},
         |${RowImageQueries.lwwRankSql("cl", ", epoch_ms(l_shipdate) DESC")}
         |SELECT o AS "offset", op, epoch_ms(l_shipdate) AS ts_ms,
         |       l_partkey, l_suppkey,
         |       CASE WHEN op <> 'd'
         |            THEN CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR)
         |            END AS l_quantity,
         |       CASE WHEN op <> 'd'
         |            THEN CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
         |            END AS l_extendedprice,
         |       CASE WHEN op <> 'd' THEN CAST(l_shipdate AS DATE) END AS l_shipdate,
         |       CASE WHEN op <> 'd' THEN epoch_us(l_shipdate) END AS l_shipts_us,
         |       CASE WHEN op = 'u' THEN l_returnflag END AS l_returnflag,
         |       CASE WHEN op <> 'd' THEN hex(encode(l_linestatus)) END AS l_flagbin_hex
         |FROM lww WHERE lww_rank = 1""".stripMargin
  )
}
