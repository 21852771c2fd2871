package graft.cdc.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QueryPack
import RowImage._

/** P1 (full generality) through the correctness gate: the generic
  * schema-driven envelope path exercised on a SECOND table shape —
  * `lineitem` declared with a COMPOSITE primary key (l_partkey, l_suppkey)
  * and six value columns spanning the whole wire-converter ladder
  * (DECIMAL via unscaled-string, DATE via epoch days, TIMESTAMP via epoch
  * micros, nullable STRING, BINARY via base64).
  *
  * The fixture synthesizes a changelog from `lineitem` deterministically
  * (both sides of the oracle derive it with the same arithmetic):
  *
  *   - offset = l_orderkey*8 + l_linenumber      (monotone; fits int64 at
  *              any SF). Offsets can tie within a (l_partkey, l_suppkey)
  *              merge group: sf0.001 holds (l_orderkey 1294, l_linenumber 4)
  *              twice, both key (123, 0) and op 'c', with different images.
  *              Both sides break the tie by the one last-writer-wins order
  *              ([[RowImage.lwwOrder]]; the oracles' [[lwwRankSql]])
  *   - op     = R -> 'd', A -> 'u', else 'c'     (from l_returnflag)
  *   - ts_ms  = epoch millis of l_shipdate
  *   - after image  = the row's declared-typed values (absent for deletes),
  *     with l_returnflag nulled for inserts so the null-field wire path runs
  *   - before image = the row's values with l_quantity+5 and flag 'P'
  *     (updates/deletes carry envelope before-images, Envelope.before)
  *
  * Every query here runs encode -> JSON wire -> [[RowImage.decodeEnvelope]]
  * -> operator, so a hash match against DuckDB (which computes the result
  * directly from `lineitem`) proves the whole generic path is lossless.
  * Final projections cast DECIMAL to VARCHAR and BINARY to hex because the
  * driver's compare cannot hash decimal/binary columns natively; the same
  * casts appear in the oracle SQL.
  */
object RowImageQueries extends QueryPack {

  /** The declared second table shape (reference: the RowType a user declares
    * in the CREATE TABLE that RowDataDebeziumDeserializeSchema projects,
    * :589-630).
    */
  val lineitemTable: DeclaredTable = DeclaredTable(
    "lineitem",
    StructType(Seq(
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_quantity", DecimalType(12, 2)),
      StructField("l_extendedprice", DecimalType(14, 2)),
      StructField("l_shipdate", DateType),
      StructField("l_shipts", TimestampType),
      StructField("l_returnflag", StringType),
      StructField("l_flagbin", BinaryType)
    )),
    pkCols = Seq("l_partkey", "l_suppkey"))

  private def image(qtyShift: Int, flag: Column): Column = struct(
    col("l_partkey"),
    col("l_suppkey"),
    (col("l_quantity") + lit(qtyShift)).cast(DecimalType(12, 2)).as("l_quantity"),
    col("l_extendedprice").cast(DecimalType(14, 2)).as("l_extendedprice"),
    to_date(col("l_shipdate")).as("l_shipdate"),
    col("l_shipdate").as("l_shipts"),
    flag.as("l_returnflag"),
    col("l_linestatus").cast(BinaryType).as("l_flagbin")
  )

  /** A THIRD table shape through the gate: `orders` declared with a
    * single-column pk that REPEATS across the changelog (o_custkey — the
    * materialization is "each customer's latest order"), unique offsets
    * (o_orderkey), and a different converter mix (two strings, one of them
    * null on the insert wire path).
    */
  val ordersTable: DeclaredTable = DeclaredTable(
    "orders",
    StructType(Seq(
      StructField("o_custkey", LongType),
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DecimalType(14, 2)),
      StructField("o_orderdate", DateType),
      StructField("o_orderstatus", StringType),
      StructField("o_orderpriority", StringType)
    )),
    pkCols = Seq("o_custkey"))

  /** orders -> wire envelope frames, same deterministic derivation style as
    * the lineitem fixture: op from o_orderstatus (F -> d, P -> u, else c),
    * offset = o_orderkey (unique), before images shifted. Persisted:
    * see the fixture policy at [[graft.FixtureStaging]].
    */
  def ordersEnvelope(spark: SparkSession, sfDir: String): DataFrame =
    ordersEnvelopeFrames(spark, sfDir).persist()

  private def ordersEnvelopeFrames(spark: SparkSession, sfDir: String): DataFrame = {
    def image(priceShift: Int, status: Column): Column = struct(
      col("o_custkey"),
      col("o_orderkey"),
      (col("o_totalprice") + lit(priceShift)).cast(DecimalType(14, 2)).as("o_totalprice"),
      col("o_orderdate").cast(DateType).as("o_orderdate"),
      status.as("o_orderstatus"),
      col("o_orderpriority"))
    val after = image(0, when(col("o_orderstatus") === "O", lit(null).cast(StringType))
      .otherwise(col("o_orderstatus")))
    val before = image(10, lit("X"))
    Changelog.table(spark, sfDir, "orders")
      .repartition(col("o_orderkey"))
      .withColumn("op",
        when(col("o_orderstatus") === "F", Changelog.OpDelete)
          .when(col("o_orderstatus") === "P", Changelog.OpUpdate)
          .otherwise(Changelog.OpInsert))
      .select(
        col("o_orderkey").as("offset"),
        col("op"),
        unix_millis(col("o_orderdate").cast(TimestampType)).as("ts_ms"),
        when(col("op").isin(Changelog.OpUpdate, Changelog.OpDelete),
          encodeImage(before, ordersTable)).as("before"),
        when(col("op") =!= Changelog.OpDelete,
          encodeImage(after, ordersTable)).as("after"))
  }

  /** A FOURTH table shape: NESTED declared fields — a ROW (struct), an
    * ARRAY of decimals, and a MAP — exercising the recursive converter
    * ladder (the reference's Mongo path converts nested BSON documents /
    * arrays / maps into nested rows,
    * MongoDBConnectorDeserializationSchema.java:690-770). The nested
    * leaves deliberately include DATE and DECIMAL so non-trivial wire
    * conversions run INSIDE the nesting, not just at the top level.
    */
  val nestedTable: DeclaredTable = DeclaredTable(
    "orders_nested",
    StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("cust", StructType(Seq(
        StructField("c_key", LongType),
        StructField("c_since", DateType),
        StructField("c_name", StringType)))),
      StructField("amounts", ArrayType(DecimalType(14, 2))),
      StructField("attrs", MapType(StringType, StringType))
    )),
    pkCols = Seq("o_orderkey"))

  /** orders (+ per-order sorted lineitem prices) -> nested wire envelope:
    * op from o_orderstatus (F -> d, P -> u, else c), after images carry the
    * full nested shape (priority nulled on the insert path so a nested
    * null map value rides the wire), before images differ in every nested
    * container (renamed struct leaf, sliced array, reduced map).
    */
  def nestedEnvelope(spark: SparkSession, sfDir: String): DataFrame = {
    val amounts = Changelog.table(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_extendedprice").cast(DecimalType(14, 2))))
        .as("amounts"))
    def cust(name: Column) = struct(
      col("o_custkey").as("c_key"),
      col("o_orderdate").cast(DateType).as("c_since"),
      name.as("c_name"))
    val after = struct(
      col("o_orderkey"),
      cust(concat(lit("C#"), col("o_custkey"))).as("cust"),
      col("amounts"),
      map(
        lit("priority"),
        when(col("o_orderstatus") === "O", lit(null).cast(StringType))
          .otherwise(col("o_orderpriority")),
        lit("status"), col("o_orderstatus")).as("attrs"))
    val before = struct(
      col("o_orderkey"),
      cust(lit("gone")).as("cust"),
      slice(col("amounts"), 1, 2).as("amounts"),
      map(lit("priority"), lit("NONE")).as("attrs"))
    Changelog.table(spark, sfDir, "orders")
      .join(amounts, col("o_orderkey") === col("l_orderkey"))
      .withColumn("op",
        when(col("o_orderstatus") === "F", Changelog.OpDelete)
          .when(col("o_orderstatus") === "P", Changelog.OpUpdate)
          .otherwise(Changelog.OpInsert))
      .select(
        col("o_orderkey").as("offset"),
        col("op"),
        unix_millis(col("o_orderdate").cast(TimestampType)).as("ts_ms"),
        when(col("op").isin(Changelog.OpUpdate, Changelog.OpDelete),
          encodeImage(before, nestedTable)).as("before"),
        when(col("op") =!= Changelog.OpDelete,
          encodeImage(after, nestedTable)).as("after"))
  }

  /** lineitem -> wire envelope frames (offset, op, ts_ms, before, after)
    * with JSON-string images — the raw shape a Debezium topic delivers.
    * Persisted: see the fixture policy at [[graft.FixtureStaging]].
    */
  def envelope(spark: SparkSession, sfDir: String): DataFrame =
    envelopeFrom(Changelog.table(spark, sfDir, "lineitem")).persist()

  /** Envelope frames derived from an (optionally filtered) lineitem frame. */
  def envelopeFrom(lineitem: DataFrame): DataFrame = {
    val after = image(0, when(col("l_returnflag") === "N", lit(null).cast(StringType))
      .otherwise(col("l_returnflag")))
    val before = image(5, lit("P"))
    lineitem
      // fixture parallelization: the test parquet is ONE row group, so the
      // scan cannot split and the whole JSON-encode synthesis would run in
      // a single task. Hash-repartition the cheap raw columns before the
      // heavy projection (hash, not round-robin — round-robin inserts a
      // local sort for retry determinism). A real envelope source (a Kafka
      // topic, a multi-file landing zone) arrives pre-partitioned; this
      // shuffle stands in for that, it is not part of the operator.
      .repartition(col("l_orderkey"), col("l_linenumber"))
      // parquet timestamp[ms] surfaces as TIMESTAMP_NTZ in Spark 4; pin it
      // to an instant (session tz is UTC everywhere) so the epoch-micros
      // wire converter applies — DuckDB's naive TIMESTAMP epoch_ms agrees
      .withColumn("l_shipdate", col("l_shipdate").cast(TimestampType))
      .withColumn("op",
        when(col("l_returnflag") === "R", Changelog.OpDelete)
          .when(col("l_returnflag") === "A", Changelog.OpUpdate)
          .otherwise(Changelog.OpInsert))
      .select(
        // offset = l_orderkey*8 + l_linenumber (linenumber <= 7). Rows of
        // different merge groups may share an offset, exactly like two rows
        // of one transaction sharing a binlog position; a duplicated row
        // identity ties within its group, and last-writer-wins breaks the
        // tie by op and image. (Folding all four identity components
        // positionally would need a >63-bit space at sf10 key ranges.)
        (col("l_orderkey") * 8 + col("l_linenumber")).as("offset"),
        col("op"),
        unix_millis(col("l_shipdate")).as("ts_ms"),
        when(col("op").isin(Changelog.OpUpdate, Changelog.OpDelete),
          encodeImage(before, lineitemTable)).as("before"),
        when(col("op") =!= Changelog.OpDelete,
          encodeImage(after, lineitemTable)).as("after"))
  }

  /** The frames of [[envelopeFrom]] as a log: `(seq, op, ts_ms, table_name,
    * before, after)` in delivery order, where SEQ is the log's own dense
    * position (a binlog/topic position, not the row-identity offset; the
    * stream's admission control and split planning are range arithmetic
    * over it). Frames are numbered in (offset, l_partkey, l_suppkey)
    * order, frames tied there in the ascending [[RowImage.lwwOrder]], so
    * positions are unique and a key's last position is its
    * last-writer-wins winner. The oracle derives the same numbering with
    * `row_number()`.
    */
  def sequencedLog(lineitem: DataFrame): Array[(Long, String, Long, String, String, String)] = {
    val ir = decodeEnvelope(envelopeFrom(lineitem), lineitemTable)
    ir.orderBy(col("offset"), col("key"), lwwOrder(ir, "after"))
      .select(col("op"), col("ts_ms"),
        encodeImage(col("before"), lineitemTable), encodeImage(col("after"), lineitemTable))
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        (i.toLong, r.getString(0), r.getLong(1), "lineitem", r.getString(2), r.getString(3))
      }
  }

  /** Decoded generic IR rows for the fixture. */
  def rows(spark: SparkSession, sfDir: String): DataFrame =
    decodeEnvelope(envelope(spark, sfDir), lineitemTable)

  /** Driver-compare-safe projection of the lineitem merge output. */
  private[model] def upsertOut(m: DataFrame): DataFrame =
    m.select(
      col("l_partkey"), col("l_suppkey"), col("last_offset"),
      col("l_quantity").cast(StringType).as("l_quantity"),
      col("l_extendedprice").cast(StringType).as("l_extendedprice"),
      col("l_shipdate"), col("l_shipts"), col("l_returnflag"),
      hex(col("l_flagbin")).as("l_flagbin_hex"))

  /** Driver-compare-safe projection of one image's value columns. */
  private[model] def valueOut(img: Column): Seq[Column] = Seq(
    img.getField("l_quantity").cast(StringType).as("l_quantity"),
    img.getField("l_extendedprice").cast(StringType).as("l_extendedprice"),
    img.getField("l_shipdate").as("l_shipdate"),
    img.getField("l_shipts").as("l_shipts"),
    img.getField("l_returnflag").as("l_returnflag"),
    hex(img.getField("l_flagbin")).as("l_flagbin_hex")
  )

  /** The composite split table for the generic emit filter: three ranges
    * over (l_partkey, l_suppkey) with distinct high watermarks.
    */
  private def splits(spark: SparkSession): DataFrame = {
    val keyType = lineitemTable.keyType
    def k(p: Long, sk: Long): Column =
      struct(lit(p).as("l_partkey"), lit(sk).as("l_suppkey")).cast(keyType)
    def row(lo: Column, hi: Column, hwm: Long): DataFrame =
      spark.range(1).select(lo.as("lo"), hi.as("hi"), lit(hwm).as("hwm"))
    val nul = lit(null).cast(keyType)
    // hwm = orderkey-threshold * 8 on the offset layout
    row(nul, k(500, 50), 8000L)
      .unionByName(row(k(500, 50), k(1500, 25), 9600L))
      .unionByName(row(k(1500, 25), nul, 3200L))
  }

  /** The fixture's after image as DuckDB order keys, field by field in
    * declared order, valued as the Spark side decodes it: decimal casts
    * applied, the flag only on updates, no image on deletes.
    */
  private val afterOrderSql: Seq[String] = Seq(
    "l_partkey", "l_suppkey",
    "CAST(l_quantity AS DECIMAL(12,2))", "CAST(l_extendedprice AS DECIMAL(14,2))",
    "CAST(l_shipdate AS DATE)", "l_shipdate",
    "CASE WHEN op = 'u' THEN l_returnflag END", "encode(l_linestatus)"
  ).map(e => s"CASE WHEN op <> 'd' THEN $e END")

  /** The oracles' one last-writer-wins rank: a CTE `name` over the rows
    * of `src` where `lww_rank = 1` marks each key's winner under
    * [[RowImage.lwwOrder]] — offset, then op, then the after image, each
    * descending with nulls lowest (Spark orders null struct fields first).
    * `tail` appends order keys that rank frames equal in all three.
    */
  private[model] def lwwRankSql(src: String, tail: String = "", name: String = "lww"): String =
    s"""$name AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
       |    ORDER BY o DESC, op DESC,
       |      ${afterOrderSql.map(_ + " DESC NULLS LAST").mkString(",\n      ")}$tail)
       |    AS lww_rank
       |  FROM $src)""".stripMargin

  /** The last-writer-wins oracle: the live winners of [[lwwRankSql]] over
    * `src`, a source of `prelude`'s CTEs (optionally filtered — the
    * time-travel variants in [[IvmQueries]]).
    */
  private[model] def upsertSql(prelude: String, src: String): String =
    s"""$prelude,
       |${lwwRankSql(src)}
       |SELECT l_partkey, l_suppkey, o AS last_offset,
       |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
       |       CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
       |         AS l_extendedprice,
       |       CAST(l_shipdate AS DATE) AS l_shipdate,
       |       l_shipdate AS l_shipts,
       |       CASE WHEN op = 'u' THEN l_returnflag END AS l_returnflag,
       |       hex(encode(l_linestatus)) AS l_flagbin_hex
       |FROM lww WHERE lww_rank = 1 AND op <> 'd'""".stripMargin

  /** Shared oracle prelude: the deterministic changelog derivation. */
  private[model] def clSqlWhere(where: String): String =
    s"""WITH cl AS (
      |  SELECT l_orderkey * 8 + l_linenumber AS o,
      |         CASE l_returnflag WHEN 'R' THEN 'd' WHEN 'A' THEN 'u'
      |              ELSE 'c' END AS op,
      |         l_partkey, l_suppkey, l_quantity, l_extendedprice,
      |         l_shipdate, l_returnflag, l_linestatus
      |  FROM lineitem$where)""".stripMargin

  private[model] val clSql = clSqlWhere("")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 full — wire decode of arbitrary multi-column images: every declared
    // field survives encode -> JSON -> per-field converter -> typed column
    "rowimage_decode" -> ((s, dir) => {
      val r = rows(s, dir)
      val img = when(col("op") === Changelog.OpDelete, col("before"))
        .otherwise(col("after"))
      r.select(
        (col("offset") +: col("op") +: col("ts_ms") +:
          col("key.l_partkey").as("l_partkey") +:
          col("key.l_suppkey").as("l_suppkey") +:
          valueOut(img)): _*)
    }),

    // P1 nested — declared ROW/ARRAY/MAP fields through the recursive
    // converter ladder: encode -> JSON wire -> decodeEnvelope on the nested
    // declared schema, then scalar projections of every nested leaf (struct
    // field access, array fold + element, map lookups incl. an absent key)
    "rowimage_nested_decode" -> ((s, dir) => {
      val ir = decodeEnvelope(nestedEnvelope(s, dir), nestedTable)
      val img = when(col("op") === Changelog.OpDelete, col("before"))
        .otherwise(col("after"))
      ir.withColumn("img", img).select(
        col("offset"), col("op"), col("ts_ms"),
        col("key.o_orderkey").as("o_orderkey"),
        col("img.cust.c_key").as("c_key"),
        col("img.cust.c_since").as("c_since"),
        col("img.cust.c_name").as("c_name"),
        size(col("img.amounts")).as("n_amounts"),
        expr("""CAST(aggregate(img.amounts, CAST(0 AS DECIMAL(22,2)),
               |     (acc, x) -> CAST(acc + x AS DECIMAL(22,2))) AS STRING)""".stripMargin)
          .as("amount_total"),
        element_at(col("img.amounts"), 1).cast(StringType).as("first_amount"),
        element_at(col("img.attrs"), "priority").as("priority"),
        element_at(col("img.attrs"), "status").as("status"))
    }),

    // the Debezium HashField SMT on the generic IR: l_returnflag masked to
    // its sha-256 digest in both images, everything else untouched —
    // rowimage_decode's projection over the masked frames
    "rowimage_masked_decode" -> ((s, dir) => {
      val r = RowImage.maskImages(rows(s, dir), lineitemTable,
        Set("l_returnflag"))
      val img = when(col("op") === Changelog.OpDelete, col("before"))
        .otherwise(col("after"))
      r.select(
        (col("offset") +: col("op") +: col("ts_ms") +:
          col("key.l_partkey").as("l_partkey") +:
          col("key.l_suppkey").as("l_suppkey") +:
          valueOut(img)): _*)
    }),

    // A-family generic — incremental changelog aggregation: grouped sums
    // maintained from the delta algebra alone (inserts add afters, deletes
    // retract befores, updates both), no per-key state, no materialization
    "rowimage_incremental_agg" -> ((s, dir) =>
      incrementalAggEnvelope(envelope(s, dir), lineitemTable,
        "l_returnflag", "l_quantity")
        .select(col("l_returnflag"), col("net_rows"),
          col("net_sum").cast(DecimalType(20, 2)).cast(StringType).as("net_sum"))),

    // P2 generic — row-kind expansion with envelope before-images
    // (envelope-native: images decode once per emitted row, after explode)
    "rowimage_extract_rows" -> ((s, dir) =>
      extractRowsEnvelope(envelope(s, dir), lineitemTable).select(
        col("offset"), col("row_kind"),
        col("key.l_partkey").as("l_partkey"),
        col("key.l_suppkey").as("l_suppkey"),
        col("img.l_quantity").cast(StringType).as("l_quantity"),
        col("img.l_returnflag").as("l_returnflag"))),

    // J1/W1 generic — last-writer-wins per COMPOSITE key (envelope-native:
    // pk-only parse pre-shuffle, winners decoded post-merge)
    "rowimage_upsert_materialize" -> ((s, dir) =>
      upsertOut(upsertMaterializeEnvelope(envelope(s, dir), lineitemTable))),

    // J1 generic under HOT-KEY SKEW: the salted two-phase envelope merge
    // (per-(key, salt) partial winners, then per-key reduce) must produce
    // byte-identical results to the single-shuffle form — both share one
    // oracle
    "rowimage_upsert_salted" -> ((s, dir) =>
      upsertOut(upsertMaterializeEnvelopeSalted(
        envelope(s, dir), lineitemTable, buckets = 8))),

    // J2 generic — per-split emit filter over composite key ranges
    // (envelope-native: only the pk fields are ever parsed)
    "rowimage_emit_filter" -> ((s, dir) =>
      emitFilterEnvelope(envelope(s, dir), splits(s), lineitemTable).select(
        col("offset"), col("op"),
        col("key.l_partkey").as("l_partkey"),
        col("key.l_suppkey").as("l_suppkey"))),

    // P1/P9/J1 on a THIRD declared shape — orders keyed by the REPEATING
    // o_custkey ("each customer's latest order"), decoded through the
    // envelope-integrity validator (validateFrames: key + op-appropriate
    // image present, or the query throws) and merged on the decoded-IR path
    "rowimage_orders_upsert" -> ((s, dir) => {
      val ir = validateFrames(
        decodeEnvelope(ordersEnvelope(s, dir), ordersTable), ordersTable)
      upsertMaterialize(ir, ordersTable).select(
        col("o_custkey"), col("last_offset"), col("o_orderkey"),
        col("o_totalprice").cast(StringType).as("o_totalprice"),
        col("o_orderdate"), col("o_orderstatus"), col("o_orderpriority"))
    }),

    // S1/T1/T2 on the GENERIC IR: the flagship hybrid snapshot⊕log flow
    // over the composite-key lineitem shape — per-chunk observation at
    // lowWm, (lowWm, highWm] backfill (middle chunk exercises the
    // backfill-skip short circuit), log phase from min hwm with the
    // per-split emit filter. The oracle is the DIRECT merge of the whole
    // capped changelog: the hybrid interleaving must reproduce it exactly.
    // Capped at l_orderkey <= 15000 so the bench-SF fixture stays bounded.
    "rowimage_hybrid_materialize" -> ((s, dir) => {
      // the hybrid's phase filter compares the key once per chunk bound:
      // over an unpinned IR, Catalyst pushes it through the decode and the
      // fixture's stand-in repartition into the one-task scan, inlining the
      // JSON round trip at every comparison (sf0.1 bench: 19.4 s unpinned,
      // 1.9 s pinned). localCheckpoint = the same lineage-truncation trade
      // documented at Dedup.clusterAssign. A per-call operator pin: a lost
      // executor fails the query with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
      // persist() does not fit: a persisted decoded IR would be served to
      // a bench's later passes (an operator's output cached across timed
      // passes), and decoding per call above the persisted envelope would
      // parse each frame twice
      val ir = decodeEnvelope(
        envelopeFrom(Changelog.table(s, dir, "lineitem").where(col("l_orderkey") <= 15000)),
        lineitemTable).localCheckpoint()
      val keyType = lineitemTable.keyType
      def k(p: Long, sk: Long): Column =
        struct(lit(p).as("l_partkey"), lit(sk).as("l_suppkey")).cast(keyType)
      val plan: graft.cdc.source.RowImageHybrid.ChunkPlan = Seq(
        (None, Some(k(500, 50)), 16000L, 24000L),
        (Some(k(500, 50)), Some(k(1500, 25)), 40000L, 40000L),
        (Some(k(1500, 25)), None, 56000L, 72000L))
      graft.cdc.source.RowImageHybrid.materialize(ir, lineitemTable, plan).select(
        col("l_partkey"), col("l_suppkey"), col("last_offset"),
        col("l_quantity").cast(StringType).as("l_quantity"),
        col("l_extendedprice").cast(StringType).as("l_extendedprice"),
        col("l_shipdate"), col("l_shipts"), col("l_returnflag"),
        hex(col("l_flagbin")).as("l_flagbin_hex"))
    }),

    // §3.1 Debezium-topic transport on the GENERIC IR: wire envelope frames
    // assembled into Kafka-shaped records (key = pk-struct JSON, value = the
    // Debezium envelope with inline images), decoded back through ONE
    // combined parse against the declared wire schema — the oracle is
    // the identity derivation (faithful transport of every declared field)
    "rowimage_kafka_roundtrip" -> ((s, dir) => {
      val topic = encodeDebeziumTopic(envelope(s, dir), lineitemTable,
        db = "inventory", topic = "inventory.lineitem", nPartitions = 4)
      val ir = decodeDebeziumTopic(topic, lineitemTable)
      val img = when(col("op") === Changelog.OpDelete, col("before"))
        .otherwise(col("after"))
      ir.select(
        (col("offset") +: col("op") +: col("ts_ms") +: col("table_name") +:
          col("key.l_partkey").as("l_partkey") +:
          col("key.l_suppkey").as("l_suppkey") +:
          valueOut(img)): _*)
    }),

    // S3/S9/T2 on the GENERIC IR, streaming end-to-end: envelope frames
    // staged into an embedded-Derby envelope change table (the external
    // database stand-in), tailed as a real DSv2 micro-batch stream
    // (`envelope=true`), decoded through the declared lineitem schema and
    // drained into the composite-key state table by the offset-guarded
    // generic sink. The oracle computes the same last-writer-wins merge
    // directly from parquet — the stream+sink must deliver every image
    // exactly once (and exactly-once in EFFECT across bench-pass replays:
    // the second pass reuses the staged log and re-applies onto the same
    // state table, where every row is a per-key no-op under the guard).
    // Capped at l_orderkey <= 1500 (~6k frames at any sf) so fixture cost
    // is sf-independent.
    "rowimage_stream_materialize" -> ((s, dir) => {
      val frames = sequencedLog(
        Changelog.table(s, dir, "lineitem").where(col("l_orderkey") <= 1500))
      // a restage implies a possibly-divergent state table: drop it too
      val url = graft.FixtureStaging.stageChangeTable("graft_env1", dir,
        "GRAFT_ENVELOPE", frames.length, frames.lastOption.map(_._1),
        dependents = Seq("RI_STREAM_STATE")) { url =>
        graft.cdc.source.CdcMicroBatch.appendEnvelopeTable(
          url, "GRAFT_ENVELOPE", frames.iterator)
      }
      val ckpt = java.nio.file.Files.createTempDirectory("ri_stream_ckpt").toString
      val q = applyEnvelopeStream(
        graft.cdc.source.CdcSource.read(s)
          .option("envelope", "true")
          .option("max-events-per-trigger", 2048)
          .loadMicroBatch(url, "GRAFT_ENVELOPE"),
        lineitemTable, url, "RI_STREAM_STATE", ckpt,
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      readState(s, lineitemTable, url, "RI_STREAM_STATE").select(
        col("l_partkey"), col("l_suppkey"), col("last_offset"),
        col("l_quantity").cast(StringType).as("l_quantity"),
        col("l_extendedprice").cast(StringType).as("l_extendedprice"),
        col("l_shipdate"), col("l_shipts"), col("l_returnflag"),
        hex(col("l_flagbin")).as("l_flagbin_hex"))
    })
  )

  def oracles: Map[String, String] = Map(
    // the nested-envelope round trip is lossless, so the oracle computes
    // every projected leaf directly from orders/lineitem with the same
    // deterministic derivation (sorted per-order price list, op from
    // o_orderstatus, before-image containers sliced/renamed/reduced)
    "rowimage_nested_decode" ->
      s"""WITH a AS (SELECT l_orderkey,
         |             list_sort(list(CAST(l_extendedprice AS DECIMAL(14,2)))) AS am
         |           FROM lineitem GROUP BY l_orderkey),
         |j AS (SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_orderstatus,
         |             o.o_orderpriority, a.am,
         |        CASE o.o_orderstatus WHEN 'F' THEN 'd' WHEN 'P' THEN 'u'
         |             ELSE 'c' END AS op
         |      FROM orders o JOIN a ON o.o_orderkey = a.l_orderkey),
         |s AS (SELECT *, CASE WHEN op = 'd' THEN am[1:2] ELSE am END AS amx FROM j)
         |SELECT o_orderkey AS "offset", op,
         |       epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS ts_ms,
         |       o_orderkey,
         |       o_custkey AS c_key,
         |       CAST(o_orderdate AS DATE) AS c_since,
         |       CASE WHEN op = 'd' THEN 'gone' ELSE 'C#' || o_custkey END AS c_name,
         |       len(amx) AS n_amounts,
         |       CAST(CAST(list_aggregate(amx, 'sum') AS DECIMAL(22,2)) AS VARCHAR)
         |         AS amount_total,
         |       CAST(amx[1] AS VARCHAR) AS first_amount,
         |       CASE WHEN op = 'd' THEN 'NONE'
         |            WHEN op = 'c' THEN NULL
         |            ELSE o_orderpriority END AS priority,
         |       CASE WHEN op = 'd' THEN NULL
         |            ELSE o_orderstatus END AS status
         |FROM s""".stripMargin,

    "rowimage_decode" ->
      s"""$clSql
         |SELECT o AS "offset", op,
         |       epoch_ms(l_shipdate) AS ts_ms,
         |       l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity +
         |              CASE WHEN op = 'd' THEN 5 ELSE 0 END
         |            AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
         |       CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
         |         AS l_extendedprice,
         |       CAST(l_shipdate AS DATE) AS l_shipdate,
         |       l_shipdate AS l_shipts,
         |       CASE op WHEN 'd' THEN 'P' WHEN 'u' THEN l_returnflag
         |            ELSE NULL END AS l_returnflag,
         |       hex(encode(l_linestatus)) AS l_flagbin_hex
         |FROM cl""".stripMargin,

    "rowimage_masked_decode" ->
      s"""$clSql
         |SELECT o AS "offset", op,
         |       epoch_ms(l_shipdate) AS ts_ms,
         |       l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity +
         |              CASE WHEN op = 'd' THEN 5 ELSE 0 END
         |            AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
         |       CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
         |         AS l_extendedprice,
         |       CAST(l_shipdate AS DATE) AS l_shipdate,
         |       l_shipdate AS l_shipts,
         |       sha256(CASE op WHEN 'd' THEN 'P' WHEN 'u' THEN l_returnflag
         |              ELSE NULL END) AS l_returnflag,
         |       hex(encode(l_linestatus)) AS l_flagbin_hex
         |FROM cl""".stripMargin,

    "rowimage_extract_rows" ->
      s"""$clSql
         |SELECT o AS "offset", '+I' AS row_kind, l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
         |       CAST(NULL AS VARCHAR) AS l_returnflag
         |FROM cl WHERE op = 'c'
         |UNION ALL
         |SELECT o, '-U', l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity + 5 AS DECIMAL(12,2)) AS VARCHAR), 'P'
         |FROM cl WHERE op = 'u'
         |UNION ALL
         |SELECT o, '+U', l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR), l_returnflag
         |FROM cl WHERE op = 'u'
         |UNION ALL
         |SELECT o, '-D', l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity + 5 AS DECIMAL(12,2)) AS VARCHAR), 'P'
         |FROM cl WHERE op = 'd'""".stripMargin,

    // delta algebra replicated: +after for c/u, -before for u/d, with the
    // fixture's deterministic before derivation (qty+5, flag 'P')
    "rowimage_incremental_agg" ->
      s"""$clSql,
         |plus AS (
         |  SELECT CASE WHEN l_returnflag = 'N' THEN NULL
         |              ELSE l_returnflag END AS g,
         |         CAST(l_quantity AS DECIMAL(12,2)) AS v, 1 AS sign
         |  FROM cl WHERE op <> 'd'),
         |minus AS (
         |  SELECT 'P' AS g, CAST(l_quantity + 5 AS DECIMAL(12,2)) AS v,
         |         -1 AS sign
         |  FROM cl WHERE op IN ('u', 'd')),
         |u AS (SELECT * FROM plus UNION ALL SELECT * FROM minus)
         |SELECT g AS l_returnflag, CAST(sum(sign) AS BIGINT) AS net_rows,
         |       CAST(CAST(sum(v * sign) AS DECIMAL(20,2)) AS VARCHAR) AS net_sum
         |FROM u GROUP BY g""".stripMargin,

    "rowimage_upsert_materialize" -> upsertSql(clSql, "cl"),

    // the salted two-phase merge is semantically identical (max is
    // associative), so it shares the oracle verbatim
    "rowimage_upsert_salted" -> upsertSql(clSql, "cl"),

    "rowimage_orders_upsert" ->
      s"""WITH cl AS (
         |  SELECT o_orderkey AS o,
         |         CASE o_orderstatus WHEN 'F' THEN 'd' WHEN 'P' THEN 'u'
         |              ELSE 'c' END AS op,
         |         o_custkey, o_orderkey, o_totalprice, o_orderdate,
         |         o_orderstatus, o_orderpriority
         |  FROM orders)
         |SELECT o_custkey, max(o) AS last_offset,
         |       arg_max(o_orderkey, o) AS o_orderkey,
         |       CAST(CAST(arg_max(o_totalprice, o) AS DECIMAL(14,2)) AS VARCHAR)
         |         AS o_totalprice,
         |       CAST(arg_max(o_orderdate, o) AS DATE) AS o_orderdate,
         |       CASE WHEN arg_max(op, o) = 'u'
         |            THEN arg_max(o_orderstatus, o) END AS o_orderstatus,
         |       arg_max(o_orderpriority, o) AS o_orderpriority
         |FROM cl GROUP BY o_custkey
         |HAVING arg_max(op, o) <> 'd'""".stripMargin,

    "rowimage_hybrid_materialize" ->
      upsertSql(clSqlWhere(" WHERE l_orderkey <= 15000"), "cl"),

    "rowimage_kafka_roundtrip" ->
      s"""$clSql
         |SELECT o AS "offset", op,
         |       epoch_ms(l_shipdate) AS ts_ms,
         |       'lineitem' AS table_name,
         |       l_partkey, l_suppkey,
         |       CAST(CAST(l_quantity +
         |              CASE WHEN op = 'd' THEN 5 ELSE 0 END
         |            AS DECIMAL(12,2)) AS VARCHAR) AS l_quantity,
         |       CAST(CAST(l_extendedprice AS DECIMAL(14,2)) AS VARCHAR)
         |         AS l_extendedprice,
         |       CAST(l_shipdate AS DATE) AS l_shipdate,
         |       l_shipdate AS l_shipts,
         |       CASE op WHEN 'd' THEN 'P' WHEN 'u' THEN l_returnflag
         |            ELSE NULL END AS l_returnflag,
         |       hex(encode(l_linestatus)) AS l_flagbin_hex
         |FROM cl""".stripMargin,

    // the log's SEQ numbers the frames in (o, l_partkey, l_suppkey) order,
    // tied frames in the ascending last-writer-wins order, so a key's last
    // SEQ is its winner
    "rowimage_stream_materialize" -> upsertSql(
      s"""${clSqlWhere(" WHERE l_orderkey <= 1500")},
         |cld AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY o, l_partkey, l_suppkey, op,
         |           ${afterOrderSql.map(_ + " NULLS FIRST").mkString(",\n           ")}) - 1
         |           AS o, op,
         |         l_partkey, l_suppkey, l_quantity, l_extendedprice,
         |         l_shipdate, l_returnflag, l_linestatus
         |  FROM cl)""".stripMargin, "cld"),

    "rowimage_emit_filter" ->
      s"""$clSql
         |SELECT o AS "offset", op, l_partkey, l_suppkey FROM cl
         |WHERE ((l_partkey < 500 OR (l_partkey = 500 AND l_suppkey < 50))
         |        AND o > 8000)
         |   OR (NOT (l_partkey < 500 OR (l_partkey = 500 AND l_suppkey < 50))
         |        AND (l_partkey < 1500 OR (l_partkey = 1500 AND l_suppkey < 25))
         |        AND o > 9600)
         |   OR (NOT (l_partkey < 1500 OR (l_partkey = 1500 AND l_suppkey < 25))
         |        AND o > 3200)""".stripMargin
  )
}
