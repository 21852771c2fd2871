package graft.cdc.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.types.WireJsonParse

/** P1 (full generality) — schema-driven changelog envelopes over ARBITRARY
  * declared table shapes: multi-column row images, composite primary keys,
  * per-field wire converters.
  *
  * The reference projects a declared physical `RowType` through a registry
  * of per-field runtime converters built once from the field types
  * (RowDataDebeziumDeserializeSchema.java:589-630 `createRowConverter`
  * composes `createConverter` per field; user-defined factories override at
  * :259-268), then keys records by the primary-key struct. Here the same
  * contract is Spark-first: the converter registry builds COLUMNS, not
  * row-at-a-time closures, so the whole decode is narrow projections —
  * one parse into the wire schema
  * ([[graft.cdc.types.WireJsonParse]]), then one cast/convert expression
  * per declared field. Nothing shuffles; null-propagation gives
  * `wrapIntoNullableConverter` for free.
  *
  * Wire format (the JSON shapes Debezium puts on the wire):
  *   - DATE          -> epoch days (io.debezium.time.Date)
  *   - TIMESTAMP     -> epoch micros (io.debezium.time.MicroTimestamp)
  *   - DECIMAL(p,s)  -> unscaled integer as a string (precise handling mode;
  *                      Kafka-Connect `Decimal`, consumed by the reference at
  *                      RowDataDebeziumDeserializeSchema.java:555-587)
  *   - BINARY        -> base64 string (Kafka-Connect bytes in JSON)
  *   - everything else rides natively in JSON.
  */
object RowImage {

  /** A captured table's declared shape: physical schema + primary-key
    * columns (the reference's `RowType` + `primaryKey` pair that seeds the
    * converter registry and the record key).
    */
  case class DeclaredTable(name: String, schema: StructType, pkCols: Seq[String]) {
    require(pkCols.nonEmpty, s"table $name needs at least one pk column")
    private val fields = schema.fieldNames.toSet
    require(pkCols.forall(fields.contains),
      s"pk columns ${pkCols.filterNot(fields.contains).mkString(",")} not in schema of $name")
    def valueCols: Seq[String] = schema.fieldNames.toSeq.filterNot(pkCols.contains)
    def keyType: StructType = StructType(pkCols.map(c => schema(c)))
  }

  /** A user-supplied converter override, resolved BEFORE the default ladder
    * — the reference's `DeserializationRuntimeConverterFactory` priority
    * (RowDataDebeziumDeserializeSchema.java:264 "user defined converter has
    * a higher resolve order").
    */
  type ConverterOverrides = PartialFunction[StructField, Column => Column]
  val NoOverrides: ConverterOverrides = PartialFunction.empty

  /** JSON wire type carrying a declared field. Recurses through nested
    * ROW/ARRAY/MAP shapes (the reference's Mongo path converts nested BSON
    * documents, arrays and maps into nested rows the same way —
    * MongoDBConnectorDeserializationSchema.java:690-770); JSON object keys
    * are always strings on the wire, whatever the declared map key type.
    */
  def wireType(dt: DataType): DataType = dt match {
    case DateType           => IntegerType
    case TimestampType      => LongType
    case _: DecimalType     => StringType
    case BinaryType         => StringType
    case st: StructType     => wireSchema(st)
    case ArrayType(et, _)   => ArrayType(wireType(et), containsNull = true)
    case MapType(_, vt, _)  => MapType(StringType, wireType(vt), valueContainsNull = true)
    case other              => other
  }

  def wireSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      StructField(f.name, wireType(f.dataType), nullable = true)))

  /** Default decode ladder: wire column -> declared-type column. The
    * reference's `createNotNullConverter` switch, as expressions; nested
    * ROW/ARRAY/MAP fields recurse element-wise (`createRowConverter` /
    * ARRAY/MAP branches of the Mongo converter), so a declared
    * `STRUCT<ARRAY<DECIMAL>>` decodes each leaf through the same ladder.
    * Overrides apply at the top-level field ONLY — an overridden field owns
    * its whole nested content.
    */
  def decodeField(f: StructField): Column => Column = decodeValue(f.dataType)

  /** A field's converter: the override when one matches, else the ladder. */
  private def converter(f: StructField, overrides: ConverterOverrides): Column => Column =
    overrides.applyOrElse(f, decodeField)

  private def decodeValue(dt: DataType): Column => Column = dt match {
    case DateType      => c => date_from_unix_date(c)
    case TimestampType => c => timestamp_micros(c)
    case d: DecimalType =>
      // unscaled integer string -> exact decimal: parse the unscaled value
      // at scale 0, then multiply by the exact literal 10^-s (decimal
      // multiplication never rounds; the final cast only narrows precision)
      c => (c.cast(DecimalType(d.precision, 0)) *
        lit(java.math.BigDecimal.valueOf(1L, d.scale))).cast(d)
    case BinaryType => c => unbase64(c)
    case st: StructType => c =>
      when(c.isNull, lit(null).cast(st)).otherwise(struct(
        st.fields.map(f => decodeValue(f.dataType)(c.getField(f.name)).as(f.name))
          .toIndexedSeq: _*))
    case ArrayType(et, _) => c => transform(c, x => decodeValue(et)(x))
    case MapType(kt, vt, _) => c =>
      transform_keys(transform_values(c, (_, v) => decodeValue(vt)(v)),
        (k, _) => k.cast(kt))
    case other => c => c.cast(other)
  }

  /** Inverse ladder, used by sources that put images ON the wire (fixture
    * synthesis, the Kafka envelope face) and by round-trip specs. Recurses
    * like [[decodeField]].
    */
  def encodeField(f: StructField): Column => Column = encodeValue(f.dataType)

  private def encodeValue(dt: DataType): Column => Column = dt match {
    case DateType      => c => unix_date(c)
    case TimestampType => c => unix_micros(c)
    case d: DecimalType =>
      // unscaled value: multiply out the scale (exact: 10^s is a scale-0
      // decimal literal; the product is integral by construction)
      c => (c * lit(java.math.BigDecimal.TEN.pow(d.scale)))
        .cast(DecimalType(d.precision, 0)).cast(StringType)
    case BinaryType => c => base64(c)
    case st: StructType => c =>
      when(c.isNull, lit(null).cast(wireType(st))).otherwise(struct(
        st.fields.map(f => encodeValue(f.dataType)(c.getField(f.name)).as(f.name))
          .toIndexedSeq: _*))
    case ArrayType(et, _) => c => transform(c, x => encodeValue(et)(x))
    case MapType(_, vt, _) => c =>
      transform_keys(transform_values(c, (_, v) => encodeValue(vt)(v)),
        (k, _) => k.cast(StringType))
    case other => c => c.cast(wireType(other))
  }

  /** Declared-typed image struct -> wire JSON string (null image -> null). */
  def encodeImage(image: Column, table: DeclaredTable): Column = {
    val wired = table.schema.fields.map(f =>
      encodeField(f)(image.getField(f.name)).as(f.name))
    when(image.isNull, lit(null).cast(StringType))
      .otherwise(to_json(struct(wired.toIndexedSeq: _*)))
  }

  /** Parse a JSON image into a wire struct: the one parse kernel
    * ([[graft.cdc.types.WireJsonParse]]); a null image parses to null.
    */
  private def parseImage(json: Column, ws: StructType): Column = WireJsonParse(json, ws)

  /** One side's converter composition: wire JSON -> declared-typed struct.
    * Field resolution is BY NAME against the declared schema — a field
    * absent from the wire record decodes to null, exactly the reference's
    * `schema.field(fieldName) == null -> row.setField(i, null)` rule
    * (RowDataDebeziumDeserializeSchema.java:612-615), which is what makes
    * the decode tolerant of schema drift in old log segments.
    *
    * `parsed` must be a column bound by an earlier projection, not the
    * parse itself: common-subexpression elimination does not look inside
    * the null guard's else branch, so an inline parse runs once per field
    * (decodeEnvelope over a 176k-frame changelog: 10 parses per frame
    * inline, 1.75 bound).
    */
  private def decodeImage(
      parsed: Column,
      json: Column,
      schema: StructType,
      overrides: ConverterOverrides): Column = {
    val fields = schema.fields.map { f =>
      val conv = converter(f, overrides)
      conv(parsed.getField(f.name)).as(f.name)
    }
    when(json.isNull, lit(null).cast(schema))
      .otherwise(struct(fields.toIndexedSeq: _*))
  }

  /** Decode a raw envelope frame
    * `(offset, op, ts_ms, before: json, after: json)` into the generic
    * changelog IR:
    *
    * `(offset, op, ts_ms, key: struct, before: struct, after: struct)`
    *
    * `key` is the record key the reference attaches to every change event
    * (the Kafka message key = PK struct): taken from the after image, falling
    * back to before for deletes, per pk column. One narrow projection.
    * Each image is parsed once; the key's before side is a key-schema
    * parse, evaluated only where after's field is null, so a consumer that
    * drops `before` (the upsert merges, the hybrid flow) never parses the
    * whole before image.
    */
  def decodeEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    val ws = wireSchema(table.schema)
    val parsed = envelope
      .withColumn("_before_w", parseImage(col("before"), ws))
      .withColumn("_after_w", parseImage(col("after"), ws))
    val beforeKey = parseImage(col("before"), wireSchema(table.keyType))
    val key = struct(table.pkCols.map { c =>
      val conv = converter(table.schema(c), overrides)
      coalesce(
        when(col("after").isNotNull, conv(col("_after_w").getField(c))),
        when(col("before").isNotNull, conv(beforeKey.getField(c)))).as(c)
    }: _*).cast(table.keyType)
    parsed.select(col("offset"), col("op"), col("ts_ms"), key.as("key"),
      decodeImage(col("_before_w"), col("before"), table.schema, overrides).as("before"),
      decodeImage(col("_after_w"), col("after"), table.schema, overrides).as("after"))
  }

  // --------------------------------------------------------------------
  // Envelope-native operators. The decoded-IR forms below parse every
  // image in full before they shuffle it. These forms keep the wire string
  // opaque through the shuffle and parse at most: the PK fields
  // pre-shuffle (O(pk), not O(row)), and the full image only for rows that
  // SURVIVE the operator — which is also the topology you want at 100 TB
  // (decode after merge, not before).
  // --------------------------------------------------------------------

  /** The record key parsed straight off the wire frames at pk-only cost:
    * one parse with just the key fields' wire schema (unknown JSON fields
    * are skipped), after-image first, before for deletes.
    */
  def keyColumn(table: DeclaredTable, overrides: ConverterOverrides = NoOverrides): Column = {
    val kws = wireSchema(table.keyType)
    // whole-image fallback (after if present, else before — an envelope
    // carries whole images or none, the reference's record-key rule), so the
    // two parses stay shared across all pk fields instead of per-field pairs
    val img = coalesce(parseImage(col("after"), kws), parseImage(col("before"), kws))
    // the outer cast names the struct fields authoritatively — per-field
    // aliases on non-trivial expressions can be normalized away (col1/col2)
    // by the Column-node conversion
    struct(table.pkCols.map { c =>
      val f = table.schema(c)
      val conv = converter(f, overrides)
      conv(img.getField(c)).as(c)
    }: _*).cast(table.keyType)
  }

  /** The changelog algebra's one last-writer-wins kernel: per key, the
    * max-offset `last: (offset, op, <payload>)` struct, keys whose winner is
    * a delete dropped. `key` is grouped on as given (a bare column or an
    * aliased key expression), so each caller keeps its own key shape.
    *
    * Without `buckets` this is one aggregation with a map-side partial
    * `max_by`: one shuffle of partial maxima. It plans as a
    * `SortAggregate`, not a `HashAggregate`: `max_by`'s buffer holds the
    * payload struct, which the hash aggregate's fixed-width buffer cannot,
    * so every input row is sorted by key on the map side before the
    * partial fold, and the partial maxima again after the shuffle.
    *
    * With `buckets` it is the skew-resistant form: a hot key first reduces
    * per (key, offset-derived salt), then per key — two small shuffles
    * instead of one skewed one (AQE's skew handling covers joins, not
    * aggregations). max is associative, so both forms agree.
    *
    * `extra` aggregates ride the same unsalted aggregation (the
    * placeholder carry of [[upsertMaterialize]]). Tied offsets within a key
    * pick any of the tied rows.
    */
  private[cdc] def lastWriterWins(
      rows: DataFrame,
      key: Column,
      payload: String,
      buckets: Option[Int] = None,
      extra: Seq[Column] = Nil): DataFrame = {
    require(buckets.isEmpty || extra.isEmpty, "extra aggregates need the unsalted form")
    val last = max_by(struct(col("offset"), col("op"), col(payload)), col("offset")).as("last")
    val merged = buckets match {
      case None => rows.groupBy(key).agg(last, extra: _*)
      case Some(n) =>
        val perSalt = rows
          .withColumn("salt", pmod(xxhash64(col("offset")), lit(n)))
          .groupBy(key, col("salt"))
          .agg(last)
        perSalt.groupBy(col(perSalt.columns.head))
          .agg(max_by(col("last"), col("last.offset")).as("last"))
    }
    merged.where(col("last.op") =!= Changelog.OpDelete)
  }

  /** J1/W1 straight over wire envelopes: group by the pk-parsed key, carry
    * the winning after-image as an OPAQUE JSON string through the one
    * shuffle (map-side partial max_by), then decode only the survivors.
    */
  def upsertMaterializeEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame =
    decodeWinners(
      lastWriterWins(envelope, keyColumn(table, overrides).as("key"), "after"),
      table, overrides)

  /** Skew-resistant form of [[upsertMaterializeEnvelope]] (the salted
    * [[lastWriterWins]]): the partial winners still carry the after-image
    * as an OPAQUE string; survivors decode once, after both reductions.
    */
  def upsertMaterializeEnvelopeSalted(
      envelope: DataFrame,
      table: DeclaredTable,
      buckets: Int,
      overrides: ConverterOverrides = NoOverrides): DataFrame =
    decodeWinners(
      lastWriterWins(envelope, keyColumn(table, overrides).as("key"), "after", Some(buckets)),
      table, overrides)

  /** Point-in-time (time-travel) materialization: the table state AS OF
    * `asOf` — last-writer-wins over only the frames at or below that
    * offset. The reference replays its log from a checkpoint to recover
    * old state; over a retained changelog the same question is one
    * offset predicate pushed under the merge (at scale the filter reaches
    * the log scan, so a far-past `asOf` reads a prefix, not the whole
    * log).
    */
  def upsertMaterializeEnvelopeAsOf(
      envelope: DataFrame,
      table: DeclaredTable,
      asOf: Long,
      overrides: ConverterOverrides = NoOverrides): DataFrame =
    upsertMaterializeEnvelope(
      envelope.where(col("offset") <= asOf), table, overrides)

  /** In-flight field masking on the decoded IR — the Debezium
    * HashField/MaskField SMT surface (a transform applied to every change
    * record between source and sink, reference-adjacent: Debezium's
    * `transforms=...HashField` with SHA-2): each masked string field is
    * replaced by its SHA-256 hex digest in BOTH images, nulls stay null,
    * every other field and the frame metadata pass through untouched. A
    * pure narrow projection — nothing shuffles, masking rides whatever
    * plan carries the IR (batch or streaming), and the masked column
    * remains joinable/groupable (equal plaintexts keep equal digests).
    *
    * Masked fields must be StringType: hash masking is type-preserving
    * only for strings (a digest of a numeric column could no longer carry
    * the declared numeric type — project such columns away instead).
    */
  def maskImages(
      ir: DataFrame, table: DeclaredTable, maskCols: Set[String]): DataFrame = {
    val bad = maskCols.filter(c =>
      table.schema(c).dataType != org.apache.spark.sql.types.StringType)
    require(bad.isEmpty, s"maskImages: non-string fields $bad")
    def masked(img: Column): Column = {
      val fields = table.schema.fields.map { f =>
        val v = img.getField(f.name)
        (if (maskCols(f.name)) sha2(v, 256) else v).as(f.name)
      }
      when(img.isNotNull, struct(fields.toSeq: _*))
    }
    ir.withColumn("before", masked(col("before")))
      .withColumn("after", masked(col("after")))
  }

  /** Log compaction (the Kafka compacted-topic contract): one frame per
    * key — its latest — with delete TOMBSTONES retained, so the compacted
    * log is still a changelog (replaying it into [[upsertMaterialize]]
    * yields the same state as replaying the full log; spec-asserted).
    * Envelope-native: the winner's image stays an opaque string through
    * the one shuffle and decodes only per surviving key. Output: frame
    * columns + flattened key + decoded after-image value columns (null on
    * tombstones).
    */
  def compactLogEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    val merged = envelope
      .groupBy(keyColumn(table, overrides).as("key"))
      .agg(max_by(
        struct(col("offset"), col("op"), col("ts_ms"), col("after")),
        col("offset")).as("last"))
    val pkOut = table.pkCols.map(c => col("key").getField(c).as(c))
    merged.select(
      (col("last.offset").as("offset") +: col("last.op").as("op") +:
        col("last.ts_ms").as("ts_ms") +: pkOut) ++ winnerValues(table, overrides): _*)
  }

  /** State DIFF between two offsets: the minimal changelog that takes the
    * table's state as of `lo` to its state as of `hi` — `+I` for keys that
    * appeared, `-D` (with the lo-state image) for keys that vanished, a
    * `-U`/`+U` retraction pair for keys whose image changed. The audit /
    * "what changed since the last sync" question a changelog consumer
    * asks, answered in ONE aggregation: both point-in-time states
    * come from conditional `max_by` folds (null ordering skips frames past
    * the bound) in the same groupBy, so the log is scanned once and only
    * per-key winners — never raw frames — are compared. Images decode
    * post-merge, two per surviving key; the emitted `offset` is the
    * hi-side state-defining frame's.
    */
  def changesBetweenEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      lo: Long,
      hi: Long,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    require(lo <= hi, s"changesBetween needs lo <= hi, got $lo > $hi")
    // conditional winners via max over (offset-led) structs: max skips the
    // nulls the bound predicate produces, and the lexicographic struct
    // order reduces to offset order because offsets are unique per key —
    // certain null semantics, unlike max_by with a nullable ordering
    val grouped = envelope
      .groupBy(keyColumn(table, overrides).as("key"))
      .agg(
        max(when(col("offset") <= lo,
          struct(col("offset"), col("op"), col("after")))).as("s_lo"),
        max(when(col("offset") <= hi,
          struct(col("offset"), col("op"), col("after")))).as("s_hi"))
    val loJson = when(col("s_lo").isNotNull &&
      col("s_lo.op") =!= Changelog.OpDelete, col("s_lo.after"))
    val hiJson = when(col("s_hi").isNotNull &&
      col("s_hi.op") =!= Changelog.OpDelete, col("s_hi.after"))
    val ws = wireSchema(table.schema)
    val parsed = grouped
      .withColumn("_lo_json", loJson)
      .withColumn("_hi_json", hiJson)
      .withColumn("_lo_w", parseImage(col("_lo_json"), ws))
      .withColumn("_hi_w", parseImage(col("_hi_json"), ws))
    val loImg = decodeImage(col("_lo_w"), col("_lo_json"), table.schema, overrides)
    val hiImg = decodeImage(col("_hi_w"), col("_hi_json"), table.schema, overrides)
    val decoded = parsed
      .withColumn("_lo", loImg)
      .withColumn("_hi", hiImg)
    val empty = array().cast(ArrayType(StructType(Seq(
      StructField("row_kind", StringType, nullable = false),
      StructField("img", table.schema)))))
    val frames =
      when(col("_lo").isNull && col("_hi").isNotNull,
        array(struct(lit("+I").as("row_kind"), col("_hi").as("img"))))
      .when(col("_lo").isNotNull && col("_hi").isNull,
        array(struct(lit("-D").as("row_kind"), col("_lo").as("img"))))
      .when(col("_lo").isNotNull && col("_hi").isNotNull &&
          !(col("_lo") <=> col("_hi")),
        array(
          struct(lit("-U").as("row_kind"), col("_lo").as("img")),
          struct(lit("+U").as("row_kind"), col("_hi").as("img"))))
      .otherwise(empty)
    decoded
      .select(col("key"), col("s_hi").getField("offset").as("offset"),
        explode(frames).as("k"))
      .select(col("offset"), col("key"),
        col("k.row_kind").as("row_kind"), col("k.img").as("img"))
  }

  /** Decode the merge winners `(key, last: (offset, op, after-json))` into
    * the flattened output shape.
    */
  private def decodeWinners(
      merged: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides): DataFrame = {
    val pkOut = table.pkCols.map(c => col("key").getField(c).as(c))
    merged.select(
      pkOut ++ (col("last.offset").as("last_offset") +: winnerValues(table, overrides)): _*)
  }

  /** The value columns of a merge winner's image `last.after`, parsed once
    * per surviving row: the parse is an unconditional subexpression of
    * every value column, so the projection's common-subexpression
    * elimination evaluates it once.
    */
  private def winnerValues(table: DeclaredTable, overrides: ConverterOverrides): Seq[Column] = {
    val w = parseImage(col("last.after"), wireSchema(table.schema))
    table.valueCols.map(c => converter(table.schema(c), overrides)(w.getField(c)).as(c))
  }

  /** P2 straight over wire envelopes: route the RAW image strings through
    * the kind expansion and explode, then decode once per EMITTED row.
    */
  def extractRowsEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    val kinds = when(col("op").isin(Changelog.OpInsert, Changelog.OpRead),
        array(struct(lit("+I").as("row_kind"), col("after").as("img_json"))))
      .when(col("op") === Changelog.OpUpdate,
        array(
          struct(lit("-U").as("row_kind"), col("before").as("img_json")),
          struct(lit("+U").as("row_kind"), col("after").as("img_json"))))
      .otherwise(
        array(struct(lit("-D").as("row_kind"), col("before").as("img_json"))))
    // the key is bound before the explode: in the generator's own select
    // it would be evaluated per emitted row (1.5 key parses per frame on a
    // changelog with half updates, against 1.0)
    val exploded = envelope
      .withColumn("key", keyColumn(table, overrides))
      .select(col("offset"), col("key"), explode(kinds).as("k"))
      // bound as a column: decodeImage reads it under its null guard
      .withColumn("_w", parseImage(col("k.img_json"), wireSchema(table.schema)))
    val img = decodeImage(col("_w"), col("k.img_json"), table.schema, overrides)
    exploded.select(col("offset"), col("key"),
      col("k.row_kind").as("row_kind"), img.as("img"))
  }

  /** Incremental changelog aggregation — grouped (count, sum) maintained
    * from the DELTA algebra alone: inserts add their after-image, deletes
    * retract their before-image, updates do both (so a row whose group
    * column changes moves between groups naturally). No per-key state, no
    * materialization — the 100 TB win over materialize-then-aggregate,
    * whose keyed state is corpus-sized where this shuffles only
    * (group, value, ±1) scalars into a map-side-combinable sum. This is
    * the retraction semantics Flink's changelog aggregation applies
    * per-record, expressed as one batch plan.
    *
    * Envelope-native: only `groupCol` and `sumCol` are ever parsed (a
    * reduced wire schema, same O(referenced-fields) discipline as
    * [[keyColumn]]); correctness of the maintained aggregate requires the
    * log's before-images to be faithful predecessors, which is the
    * changelog contract. Returns (groupCol, net_rows, net_sum).
    */
  def incrementalAggEnvelope(
      envelope: DataFrame,
      table: DeclaredTable,
      groupCol: String,
      sumCol: String,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    val sub = StructType(Seq(table.schema(groupCol), table.schema(sumCol)))
    val decoded = envelope
      .withColumn("_aw", parseImage(col("after"), wireSchema(sub)))
      .withColumn("_bw", parseImage(col("before"), wireSchema(sub)))
      .select(col("op"),
        decodeImage(col("_aw"), col("after"), sub, overrides).as("_a"),
        decodeImage(col("_bw"), col("before"), sub, overrides).as("_b"))
    val plus = decoded.where(col("op") =!= Changelog.OpDelete)
      .select(col("_a").getField(groupCol).as("_g"),
        col("_a").getField(sumCol).as("_v"), lit(1L).as("_sign"))
    val minus = decoded
      .where(col("op").isin(Changelog.OpUpdate, Changelog.OpDelete))
      .select(col("_b").getField(groupCol).as("_g"),
        col("_b").getField(sumCol).as("_v"), lit(-1L).as("_sign"))
    plus.unionByName(minus)
      .groupBy(col("_g").as(groupCol))
      .agg(sum(col("_sign")).as("net_rows"),
        sum(col("_v") * col("_sign")).as("net_sum"))
  }

  /** J2 straight over wire envelopes: the split ranges compare against the
    * pk-parsed key; image strings pass through untouched (decode nothing —
    * the filter never looks at value fields).
    */
  def emitFilterEnvelope(
      envelope: DataFrame,
      splits: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame =
    emitFilter(envelope.withColumn("key", keyColumn(table, overrides)), splits)

  /** J1/W1 on the generic IR — [[lastWriterWins]] per COMPOSITE key over
    * the (key struct, after struct) IR, trailing deletes dropped.
    * Output: pk columns flattened, last_offset, value columns flattened.
    */
  def upsertMaterialize(rows: DataFrame, table: DeclaredTable): DataFrame =
    upsertMaterialize(rows, table, carryUnavailable = false)

  /** As above, with `carryUnavailable = true` for streams that can carry
    * [[graft.cdc.types.DialectWire.UnavailableValue]] placeholders
    * (PostgreSQL unchanged-toast-datum under default replica identity): a
    * placeholder in the winning row's after-image must NOT clobber the
    * stored value, so each placeholder-capable (string/binary) value column
    * additionally folds its latest AVAILABLE value — still one
    * aggregation, one shuffle of partial maxima (an extra `max_by` per
    * string column rides the same map-side combine). A key whose entire
    * visible history is placeholders (stream started mid-life with no
    * snapshot) keeps the placeholder — distinguishable from NULL, exactly
    * the reference's Debezium `unavailable.value.placeholder` contract.
    */
  def upsertMaterialize(
      rows: DataFrame, table: DeclaredTable, carryUnavailable: Boolean): DataFrame = {
    import graft.cdc.types.DialectWire.UnavailableValue
    def sentinelLit(dt: DataType): Column = dt match {
      case BinaryType => lit(UnavailableValue.getBytes("UTF-8"))
      case _          => lit(UnavailableValue)
    }
    val carryCols: Seq[StructField] =
      if (!carryUnavailable) Seq.empty
      else table.schema.fields.toSeq.filter(f =>
        table.valueCols.contains(f.name) &&
          (f.dataType == StringType || f.dataType == BinaryType))
    // latest value that was actually present in a record: placeholder rows
    // have a NULL ordering and are skipped by max_by. The value rides in a
    // single-field struct because an explicit NULL value IS present and
    // must participate (max_by skips bare NULL values) — a NULL struct
    // means "no available row", a struct with a NULL field means "latest
    // available value is SQL NULL"
    val availAggs = carryCols.map { f =>
      val v = col("after").getField(f.name)
      max_by(struct(v.as("v")),
        when(col("after").isNotNull && !(v <=> sentinelLit(f.dataType)),
          col("offset"))).as(s"_avail_${f.name}")
    }
    val merged = lastWriterWins(rows, col("key"), "after", extra = availAggs)
    val pkOut = table.pkCols.map(c => col("key").getField(c).as(c))
    val valOut = table.valueCols.map { c =>
      val last = col("last.after").getField(c)
      carryCols.find(_.name == c) match {
        case Some(f) =>
          val avail = col(s"_avail_$c")
          when(last <=> sentinelLit(f.dataType),
            when(avail.isNotNull, avail.getField("v")).otherwise(last))
            .otherwise(last).as(c)
        case None => last.as(c)
      }
    }
    merged.select(pkOut ++ (col("last.offset").as("last_offset") +: valOut): _*)
  }

  /** P1/P2 on the generic IR — row-kind expansion with envelope-carried
    * before images: c/r -> +I(after), u -> -U(before)+U(after),
    * d -> -D(before). The scalar path (ChangelogOps.extractRows) had to
    * reconstruct before-images with a lag() window because its fixture has
    * none; here the envelope carries them (the reference's Envelope.before,
    * RowDataDebeziumDeserializeSchema.java:118-158), so the expansion is a
    * pure narrow projection + explode — NO shuffle at any scale.
    */
  def extractRows(rows: DataFrame): DataFrame = {
    val kinds = when(col("op").isin(Changelog.OpInsert, Changelog.OpRead),
        array(struct(lit("+I").as("row_kind"), col("after").as("img"))))
      .when(col("op") === Changelog.OpUpdate,
        array(
          struct(lit("-U").as("row_kind"), col("before").as("img")),
          struct(lit("+U").as("row_kind"), col("after").as("img"))))
      .otherwise(
        array(struct(lit("-D").as("row_kind"), col("before").as("img"))))
    rows.select(col("offset"), col("key"), explode(kinds).as("k"))
      .select(col("offset"), col("key"),
        col("k.row_kind").as("row_kind"), col("k.img").as("img"))
  }

  /** J2 — per-split emit filter (BinlogSplitReader.java:228-260): a log
    * event is emitted iff its key falls in a finished split's range AND its
    * offset is past that split's high watermark; snapshot reads never pass.
    * `splits` carries (lo, hi, hwm) with lo/hi typed like the `keyCol`
    * column (null = unbounded) — a composite [[DeclaredTable.keyType]]
    * struct compares lexicographically over its fields, which is exactly
    * the composite chunk-boundary order the splitters plan
    * (KeyedChunkPlanner). Planner metadata is tiny — broadcast, never
    * shuffle.
    */
  def emitFilter(rows: DataFrame, splits: DataFrame, keyCol: String = "key"): DataFrame = {
    val cond =
      (splits("lo").isNull || col(keyCol) >= splits("lo")) &&
        (splits("hi").isNull || col(keyCol) < splits("hi")) &&
        col("offset") > splits("hwm")
    rows.where(col("op") =!= Changelog.OpRead)
      .join(broadcast(splits), cond, "left_semi")
  }

  /** P9 on the generic IR — envelope-integrity validator (the reference's
    * ValueValidator hook as a per-row assertion): every frame must carry a
    * complete key, upserts an after image, deletes a before image. The
    * returned frame throws at execution time on the first violating row.
    */
  def validateFrames(ir: DataFrame, table: DeclaredTable): DataFrame = {
    val keyOk = table.pkCols.map(c => col("key").getField(c).isNotNull).reduce(_ && _)
    val cond = keyOk &&
      (col("op") === Changelog.OpDelete || col("after").isNotNull) &&
      (col("op") =!= Changelog.OpDelete || col("before").isNotNull)
    graft.cdc.merge.ChangelogOps.validated(ir, cond,
      "corrupt change frame: missing key or missing image for its op")
  }

  // --------------------------------------------------------------------
  // Debezium-topic face of the generic path: Kafka-shaped records whose
  // value is a Debezium JSON envelope with ARBITRARY declared row images
  // (the reference's primary deployment shape; the scalar adapter is
  // KafkaEnvelope). The declared wire schema is embedded in the envelope
  // parse, so ONE parse per record yields op, ts_ms, source metadata
  // AND both typed wire images — no sub-JSON re-extraction.
  // --------------------------------------------------------------------

  /** The value-envelope schema for a declared table: before/after carry the
    * table's WIRE schema inline.
    */
  def debeziumValueSchema(table: DeclaredTable): StructType = {
    val ws = wireSchema(table.schema)
    StructType(Seq(
      StructField("before", ws),
      StructField("after", ws),
      StructField("source", StructType(Seq(
        StructField("db", StringType), StructField("table", StringType),
        StructField("pos", LongType)))),
      StructField("op", StringType),
      StructField("ts_ms", LongType)))
  }

  /** Kafka-shaped records -> the generic IR
    * `(offset, op, ts_ms, key, before, after, table_name)`. Ordering comes
    * from the envelope's `source.pos` (the log position the reference
    * orders by — Kafka transport offsets are only per-partition monotone),
    * with the transport offset as fallback. Input: any DataFrame with
    * [[graft.cdc.streaming.KafkaEnvelope.kafkaSchema]]'s columns, batch or
    * streaming.
    */
  def decodeDebeziumTopic(
      kafka: DataFrame,
      table: DeclaredTable,
      overrides: ConverterOverrides = NoOverrides): DataFrame = {
    val parsed = kafka.withColumn("_env",
      parseImage(col("value").cast(StringType), debeziumValueSchema(table)))
    def img(side: String): Column = {
      val src = col("_env").getField(side)
      decodeImage(src, src, table.schema, overrides)
    }
    val key = struct(table.pkCols.map { c =>
      val f = table.schema(c)
      val conv = converter(f, overrides)
      conv(coalesce(col("_env").getField("after").getField(c),
        col("_env").getField("before").getField(c))).as(c)
    }: _*).cast(table.keyType)
    parsed.select(
      coalesce(col("_env.source.pos"), col("offset")).as("offset"),
      col("_env.op").as("op"),
      col("_env.ts_ms").as("ts_ms"),
      key.as("key"),
      img("before").as("before"),
      img("after").as("after"),
      col("_env.source.table").as("table_name"))
  }

  /** Wire envelope frames (offset, op, ts_ms, before, after) -> Kafka-shaped
    * Debezium records for `table` (reverse sink shape + test transport). The
    * image strings are already JSON, so the value is pure string assembly;
    * the record key is the JSON of the primary-key struct (keyed topic),
    * partition = hash of the key like a keyed producer.
    */
  def encodeDebeziumTopic(
      envelope: DataFrame,
      table: DeclaredTable,
      db: String,
      topic: String,
      nPartitions: Int): DataFrame = {
    val source = concat(
      lit(s"""{"db":"$db","table":"${table.name}","pos":"""),
      col("offset").cast(StringType), lit("}"))
    val value = concat(
      lit("{\"before\":"), coalesce(col("before"), lit("null")),
      lit(",\"after\":"), coalesce(col("after"), lit("null")),
      lit(",\"source\":"), source,
      lit(",\"op\":\""), col("op"),
      lit("\",\"ts_ms\":"), col("ts_ms").cast(StringType), lit("}"))
    val keyJson = to_json(keyColumn(table))
    envelope.select(
      keyJson.cast(BinaryType).as("key"),
      value.cast(BinaryType).as("value"),
      lit(topic).as("topic"),
      pmod(hash(keyJson), lit(nPartitions)).as("partition"),
      col("offset").as("offset"))
  }

  // --------------------------------------------------------------------
  // S9 — the engine's one row-level JDBC upsert writer: offset-guarded
  // upserts per (composite) key, with the DDL, predicates and parameter
  // binding DERIVED from the declared schema. The scalar sink
  // (JdbcUpsertSink) adds its epoch ledger on top and writes through here
  // over Changelog.scalarTable.
  // --------------------------------------------------------------------

  /** Declared Spark type -> portable SQL column type (Derby-compatible). */
  def sqlType(dt: DataType): String = dt match {
    case LongType       => "BIGINT"
    case IntegerType    => "INTEGER"
    case ShortType      => "SMALLINT"
    case DoubleType     => "DOUBLE"
    case FloatType      => "REAL"
    case BooleanType    => "BOOLEAN"
    case StringType     => "VARCHAR(1024)"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case DateType       => "DATE"
    case TimestampType  => "TIMESTAMP"
    case BinaryType     => "BLOB"
    case other => throw new IllegalArgumentException(s"no SQL mapping for $other")
  }

  private def jdbcTypeCode(dt: DataType): Int = dt match {
    case LongType       => java.sql.Types.BIGINT
    case IntegerType    => java.sql.Types.INTEGER
    case ShortType      => java.sql.Types.SMALLINT
    case DoubleType     => java.sql.Types.DOUBLE
    case FloatType      => java.sql.Types.REAL
    case BooleanType    => java.sql.Types.BOOLEAN
    case StringType     => java.sql.Types.VARCHAR
    case _: DecimalType => java.sql.Types.DECIMAL
    case DateType       => java.sql.Types.DATE
    case TimestampType  => java.sql.Types.TIMESTAMP
    case BinaryType     => java.sql.Types.BLOB
    case other => throw new IllegalArgumentException(s"no JDBC type for $other")
  }

  private def bind(ps: java.sql.PreparedStatement, i: Int, dt: DataType, v: Any): Unit =
    if (v == null) ps.setNull(i, jdbcTypeCode(dt))
    else dt match {
      case BinaryType => ps.setBytes(i, v.asInstanceOf[Array[Byte]])
      case _          => ps.setObject(i, v)
    }

  /** State-table DDL for a declared table: pk columns (NOT NULL, composite
    * PRIMARY KEY) + offset watermark + tombstone op + value columns.
    */
  def createStateTable(url: String, table: DeclaredTable, sqlName: String): Unit = {
    graft.cdc.source.CdcSource.validIdentifier(sqlName)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val exists = {
        val rs = conn.getMetaData.getTables(null, null, sqlName.toUpperCase, null)
        try rs.next() finally rs.close()
      }
      if (!exists) {
        val pkDefs = table.pkCols.map(c => s"$c ${sqlType(table.schema(c).dataType)} NOT NULL")
        val valDefs = table.valueCols.map(c => s"$c ${sqlType(table.schema(c).dataType)}")
        val ddl = s"CREATE TABLE $sqlName (" +
          (pkDefs ++ Seq("LAST_OFFSET BIGINT", "LAST_OP VARCHAR(1)") ++ valDefs)
            .mkString(", ") +
          s", PRIMARY KEY (${table.pkCols.mkString(", ")}))"
        val st = conn.createStatement()
        try st.executeUpdate(ddl) finally st.close()
      }
    } finally conn.close()
  }

  /** T9 on the generic sink: widen an existing state table from one
    * declared shape to a grown one (the schema-history-driven ALTER the
    * reference applies on restart after an in-band DDL). Only additive
    * widenings are supported — same pk, every old column kept with its
    * type — matching the drift rule on the decode side (old wire frames
    * simply decode the new columns to null).
    */
  def widenStateTable(url: String, from: DeclaredTable, to: DeclaredTable, sqlName: String): Unit = {
    graft.cdc.source.CdcSource.validIdentifier(sqlName)
    require(to.pkCols == from.pkCols,
      s"widening cannot change the primary key: ${from.pkCols} -> ${to.pkCols}")
    from.schema.fields.foreach { f =>
      val kept = to.schema.fieldNames.contains(f.name) &&
        to.schema(f.name).dataType == f.dataType
      require(kept, s"widening must keep column ${f.name}: ${f.dataType}")
    }
    val newCols = to.valueCols.filterNot(from.schema.fieldNames.contains)
    if (newCols.nonEmpty) {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try newCols.foreach { c =>
          st.executeUpdate(
            s"ALTER TABLE $sqlName ADD COLUMN $c ${sqlType(to.schema(c).dataType)}")
        } finally st.close()
      } finally conn.close()
    }
  }

  /** Offset-guarded upsert of decoded generic-IR rows, executor-parallel:
    * one connection and one transaction per partition. A write applies only
    * when its offset advances the stored LAST_OFFSET for the key, so a
    * replayed or reordered batch can never regress state. Deletes become
    * TOMBSTONES (LAST_OP='d'), not physical deletes: removing the row would
    * lose the key's offset watermark, and a later replay of an OLDER insert
    * would resurrect the key; readers filter tombstones. UPDATE-then-INSERT
    * with a duplicate-key retry covers the concurrent-first-writer race.
    *
    * Each partition is sorted by key first, so every transaction takes its
    * row locks in one global order and partitions sharing keys cannot form
    * a lock cycle (without it a multi-partition batch deadlocks in Derby).
    * The sort neither shuffles nor changes the partition count; the order of
    * a key's own events does not matter under the offset guard.
    * Input: [[decodeEnvelope]]-shaped `(offset, op, key, after)` rows.
    */
  def applyRows(rows: DataFrame, table: DeclaredTable, url: String, sqlName: String): Unit = {
    graft.cdc.source.CdcSource.validIdentifier(sqlName)
    val pkTypes = table.pkCols.map(c => table.schema(c).dataType)
    val valTypes = table.valueCols.map(c => table.schema(c).dataType)
    val pkCols = table.pkCols
    val valCols = table.valueCols
    val updateSql = s"UPDATE $sqlName SET LAST_OFFSET = ?, LAST_OP = ?" +
      valCols.map(c => s", $c = ?").mkString +
      s" WHERE ${pkCols.map(c => s"$c = ?").mkString(" AND ")} AND LAST_OFFSET < ?"
    val probeSql = s"SELECT 1 FROM $sqlName WHERE ${pkCols.map(c => s"$c = ?").mkString(" AND ")}"
    val insertSql = s"INSERT INTO $sqlName (" +
      (pkCols ++ Seq("LAST_OFFSET", "LAST_OP") ++ valCols).mkString(", ") +
      s") VALUES (${Seq.fill(pkCols.size + 2 + valCols.size)("?").mkString(", ")})"

    // flatten: pk cols from key, value cols from after (null for deletes)
    val flat = rows.select(
      (col("offset") +: col("op") +:
        pkCols.map(c => col("key").getField(c).as(c))) ++
        valCols.map(c => col("after").getField(c).as(c)): _*)
      .sortWithinPartitions(pkCols.map(col): _*)

    flat.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        it.foreach { r =>
          val offset = r.getLong(0)
          val op = r.getString(1)
          val pkVals = pkTypes.indices.map(i => r.get(2 + i))
          val valVals = valTypes.indices.map(i => r.get(2 + pkTypes.size + i))

          def tryUpdate(): Int = {
            val upd = conn.prepareStatement(updateSql)
            try {
              upd.setLong(1, offset); upd.setString(2, op)
              valTypes.indices.foreach(i => bind(upd, 3 + i, valTypes(i), valVals(i)))
              val base = 3 + valTypes.size
              pkTypes.indices.foreach(i => bind(upd, base + i, pkTypes(i), pkVals(i)))
              upd.setLong(base + pkTypes.size, offset)
              upd.executeUpdate()
            } finally upd.close()
          }

          def applyOne(): Unit = if (tryUpdate() == 0) {
            val probe = conn.prepareStatement(probeSql)
            val present = try {
              pkTypes.indices.foreach(i => bind(probe, 1 + i, pkTypes(i), pkVals(i)))
              val rs = probe.executeQuery()
              try rs.next() finally rs.close()
            } finally probe.close()
            if (!present) {
              val ins = conn.prepareStatement(insertSql)
              try {
                pkTypes.indices.foreach(i => bind(ins, 1 + i, pkTypes(i), pkVals(i)))
                ins.setLong(1 + pkTypes.size, offset)
                ins.setString(2 + pkTypes.size, op)
                valTypes.indices.foreach(i =>
                  bind(ins, 3 + pkTypes.size + i, valTypes(i), valVals(i)))
                ins.executeUpdate()
              } catch {
                // concurrent first writer for this key: retry as update
                case _: java.sql.SQLIntegrityConstraintViolationException => applyOne()
              } finally ins.close()
            }
          }
          applyOne()
        }
        conn.commit()
      } catch { case e: Throwable =>
        // roll back so close() can't throw 25001 and MASK the real failure
        try conn.rollback() catch { case s: java.sql.SQLException =>
          e.addSuppressed(s) }
        throw e
      } finally conn.close()
    }
  }

  /** S9/T2 on the generic IR in STREAMING form: drain a generic-envelope
    * stream (e.g. `graft-cdc-stream` with `envelope=true`, or a Debezium
    * Kafka topic) into the composite-key state table. Each micro-batch
    * decodes the wire frames through the declared schema and applies them
    * with the offset-guarded upsert; a batch replayed after a crash is a
    * per-key no-op, which is what turns the stream's at-least-once delivery
    * into an exactly-once EFFECT.
    */
  def applyEnvelopeStream(
      envelope: DataFrame,
      table: DeclaredTable,
      url: String,
      sqlName: String,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      overrides: ConverterOverrides = NoOverrides): org.apache.spark.sql.streaming.StreamingQuery = {
    createStateTable(url, table, sqlName)
    val w = envelope.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyRows(decodeEnvelope(batch, table, overrides), table, url, sqlName)
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Multi-table form of [[applyEnvelopeStream]]: ONE envelope stream
    * carries every captured table's frames tagged by `table_name` (the
    * reference's one-binlog-many-tables model), and each micro-batch routes
    * per declared table into its own state table. The batch is cached for
    * the N per-table passes, so the source range scan runs once per
    * micro-batch regardless of capture-list width.
    */
  def applyEnvelopeStreamMulti(
      envelope: DataFrame,
      tables: Seq[(DeclaredTable, String)],
      url: String,
      checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      overrides: ConverterOverrides = NoOverrides): org.apache.spark.sql.streaming.StreamingQuery = {
    tables.foreach { case (t, sqlName) => createStateTable(url, t, sqlName) }
    val w = envelope.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try tables.foreach { case (t, sqlName) =>
          applyRows(
            decodeEnvelope(batch.where(col("table_name") === t.name), t, overrides),
            t, url, sqlName)
        } finally batch.unpersist()
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Read the materialized generic state back, tombstones filtered; column
    * case follows the declared schema (the database may uppercase).
    */
  def readState(
      spark: org.apache.spark.sql.SparkSession,
      table: DeclaredTable,
      url: String,
      sqlName: String): DataFrame = {
    val raw = spark.read.jdbc(url,
      graft.cdc.source.CdcSource.validIdentifier(sqlName), new java.util.Properties())
    val renamed = raw.columns.foldLeft(raw)((df, c) => df.withColumnRenamed(c, c.toLowerCase))
    renamed.where(col("last_op") =!= Changelog.OpDelete)
      .select((table.pkCols.map(col) :+ col("last_offset")) ++ table.valueCols.map(col): _*)
  }
}
