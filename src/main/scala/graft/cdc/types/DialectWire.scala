package graft.cdc.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.model.RowImage
import graft.cdc.model.RowImage.DeclaredTable

/** Runtime for the native `test_decoding` scanners ([[GraftExpressions]]
  * `graft_testdecoding_images` / `graft_testdecoding_header`): hand-rolled
  * BYTE-level scanners of the same fixed grammar the regex patterns
  * ([[DialectWire.TestDecodingToken]] / [[DialectWire.TestDecodingHeader]],
  * still the oracle's and the Column formulation's form) describe. The
  * regex form paid a `java.util.regex` state machine plus a
  * UTF8String->String decode per change line; the grammar is delimited
  * entirely by ASCII bytes (space, quote, bracket, colon), and UTF-8
  * continuation bytes can never equal an ASCII byte, so a single
  * left-to-right byte sweep over the raw UTF8String bytes tokenizes any
  * payload — including multi-byte text inside values — with zero decode,
  * zero Pattern machinery, and slice-only (no-copy) token extraction.
  * The sweep reproduces the regex's find() semantics exactly (ordered
  * alternation marker-before-field, advance-by-one on a failed match
  * start, greedy quoted-value scan with the single backtrack step a
  * dangling doubled-quote run forces); TestDecodingScanSpec runs BOTH
  * formulations over adversarial and generated payloads and pins
  * cell-level equality. The header sweeps Java's `^`/`$`/`.`
  * line-terminator semantics explicitly (see [[TestDecodingScan.header]]),
  * so no line — terminator-bearing or not — touches java.util.regex.
  */
object TestDecodingScan {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  val headerType: StructType = StructType(Seq(
    StructField("schema_name", StringType),
    StructField("table_name", StringType),
    StructField("verb", StringType),
    StructField("payload", StringType)))

  val imagesType: StructType = StructType(Seq(
    StructField("before_map", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("after_map", MapType(StringType, StringType, valueContainsNull = true))))

  private final val QuoteB = '\''.toByte
  private final val SpaceB = ' '.toByte
  private final val OldKeyBytes = "old-key:".getBytes("UTF-8")
  private final val NewTupleBytes = "new-tuple:".getBytes("UTF-8")
  private final val NullBytes = "null".getBytes("UTF-8")
  private final val VerbInsert = UTF8String.fromString("INSERT")
  private final val VerbUpdate = UTF8String.fromString("UPDATE")
  private final val VerbDelete = UTF8String.fromString("DELETE")

  /** `[\w$]` of the grammar's Java regex: ASCII word chars plus `$` (the
    * default, non-UNICODE_CHARACTER_CLASS `\w`). Multi-byte UTF-8 bytes are
    * all >= 0x80 and sign-negative here, so they fall out of every range.
    */
  @inline private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_' || b == '$'

  @inline private def regionMatches(
      bytes: Array[Byte], pos: Int, pat: Array[Byte]): Boolean = {
    if (pos + pat.length > bytes.length) return false
    var i = 0
    while (i < pat.length) {
      if (bytes(pos + i) != pat(i)) return false
      i += 1
    }
    true
  }

  /** Normalize one raw field-value token (bytes [from, until)) exactly like
    * the Column form's
    * `when(startsWith('), regexp_replace(substr(2, len-2), "''", "'"))
    *  .when(=== "null", NULL).otherwise(raw)`:
    * outer quotes stripped (a degenerate lone-quote token strips to ""),
    * doubled quotes folded left-to-right non-overlapping, bare `null` ->
    * SQL NULL, anything else verbatim (slice, no copy).
    */
  private def normalizeValue(
      bytes: Array[Byte], from: Int, until: Int): UTF8String = {
    val len = until - from
    if (len > 0 && bytes(from) == QuoteB) {
      // substr(2, len-2): content is [from+1, max(from+1, until-1))
      val end = math.max(from + 1, until - 1)
      // fold '' -> ' only when a doubled quote exists; verbatim slice else
      var i = from + 1
      var pairs = 0
      while (i < end) {
        if (bytes(i) == QuoteB && i + 1 < end && bytes(i + 1) == QuoteB) {
          pairs += 1; i += 2
        } else i += 1
      }
      if (pairs == 0) UTF8String.fromBytes(bytes, from + 1, end - (from + 1))
      else {
        val out = new Array[Byte](end - (from + 1) - pairs)
        var o = 0
        i = from + 1
        while (i < end) {
          if (bytes(i) == QuoteB && i + 1 < end && bytes(i + 1) == QuoteB) {
            out(o) = QuoteB; o += 1; i += 2
          } else { out(o) = bytes(i); o += 1; i += 1 }
        }
        UTF8String.fromBytes(out)
      }
    } else if (len == NullBytes.length && regionMatches(bytes, from, NullBytes)) {
      null
    } else UTF8String.fromBytes(bytes, from, len)
  }

  /** The whole token-scan + image-routing pipeline in ONE native pass:
    * scan the payload's tokens left-to-right, normalize each field value
    * (outer quotes stripped, doubled quotes folded, bare `null` -> SQL
    * NULL; [[DialectWire.UnchangedToast]] passes verbatim), and route
    * fields to the before/after maps by verb and position relative to the
    * first `new-tuple:` marker — DELETE all-before, INSERT all-after, an
    * UPDATE with an old image splits at the marker, an UPDATE without one
    * (default replica identity) is all-after. Exactly the Column
    * formulation's `array_position`/`filter`/`transform`/`map_from_arrays`
    * routing (TestDecodingScanSpec pins the equality), but without
    * materializing three token arrays, the per-index HOF passes, or the
    * intermediate struct copy.
    */
  def images(verb: UTF8String, payload: UTF8String): InternalRow = {
    val bytes = payload.getBytes
    val n = bytes.length
    val names = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val vals = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    // token index (1-based over ALL tokens) of each field, the first
    // new-tuple: marker, and whether token 1 is old-key:
    val fieldIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    var tokIdx = 0
    var newAt = 0
    var hasOld = false
    // the find() loop of the token grammar, byte-for-byte: at each scan
    // position try the marker alternation first, then a field token; a
    // failed attempt advances ONE byte (never to where the attempt died),
    // a match resumes at its own end — exactly java.util.regex.find()
    var pos = 0
    while (pos < n) {
      if (regionMatches(bytes, pos, OldKeyBytes)) {
        tokIdx += 1
        if (tokIdx == 1) hasOld = true
        pos += OldKeyBytes.length
      } else if (regionMatches(bytes, pos, NewTupleBytes)) {
        tokIdx += 1
        if (newAt == 0) newAt = tokIdx
        pos += NewTupleBytes.length
      } else {
        // field token `name[type]:value`: each sub-part is a maximal run
        // followed by a forced literal, so the scan is deterministic (the
        // regex cannot usefully backtrack into [\w$]+ or [^\]]+)
        var i = pos
        while (i < n && isWordByte(bytes(i))) i += 1
        val nameEnd = i
        var ok = nameEnd > pos && i < n && bytes(i) == '['
        if (ok) {
          i += 1
          val typeStart = i
          while (i < n && bytes(i) != ']') i += 1
          ok = i > typeStart && i + 1 < n && bytes(i + 1) == ':'
          if (ok) {
            i += 2 // past "]:"
            val vStart = i
            var vEnd = -1
            if (i < n && bytes(i) == QuoteB) {
              // quoted value '...''...': greedy pair-consuming scan; a run
              // that ends dangling (pairs consumed, no closing quote)
              // backtracks ONE step, reusing the last pair's first quote as
              // the closing — the regex's minimal-backtrack repair
              var j = i + 1
              var lastPairAt = -1
              var closing = -1
              while (closing < 0 && j < n) {
                if (bytes(j) == QuoteB) {
                  if (j + 1 < n && bytes(j + 1) == QuoteB) { lastPairAt = j; j += 2 }
                  else closing = j
                } else j += 1
              }
              if (closing < 0 && lastPairAt >= 0) closing = lastPairAt
              if (closing >= 0) vEnd = closing + 1
            }
            if (vEnd < 0) {
              // bare value [^ ]+ (tried when the quoted branch fails)
              var j = vStart
              while (j < n && bytes(j) != SpaceB) j += 1
              if (j > vStart) vEnd = j
            }
            if (vEnd >= 0) {
              tokIdx += 1
              names += UTF8String.fromBytes(bytes, pos, nameEnd - pos)
              vals += normalizeValue(bytes, vStart, vEnd)
              fieldIdx += tokIdx
              pos = vEnd
            } else ok = false
          }
        }
        if (!ok) pos += 1
      }
    }
    def mapOf(cond: Int => Boolean): org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
      val ks = scala.collection.mutable.ArrayBuffer.empty[Any]
      val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
      val seen = scala.collection.mutable.HashSet.empty[UTF8String]
      var i = 0
      while (i < fieldIdx.length) {
        if (cond(fieldIdx(i))) {
          // fail loud on a duplicate column name, matching the replaced
          // map_from_arrays formulation (default EXCEPTION dedup policy):
          // real test_decoding never repeats a column inside one image, so
          // a repeat means malformed/hostile wire input, and building the
          // map directly (bypassing Spark's policy) would otherwise make
          // it a silent first-key-wins lookup
          if (!seen.add(names(i)))
            throw new IllegalArgumentException(
              s"duplicate column name '${names(i)}' in test_decoding image")
          ks += names(i); vs += vals(i)
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(ks.toArray), new GenericArrayData(vs.toArray))
    }
    val isUpdate = VerbUpdate.equals(verb)
    // a tokenless UPDATE payload (degenerate; the grammar never emits one)
    // routes BOTH images to NULL — the Column formulation's `hasOld` was
    // an out-of-bounds `get` there (SQL NULL), so neither the hasOld nor
    // the !hasOld branch fired; the DuckDB oracle pins the same semantics
    val degenerate = isUpdate && tokIdx == 0
    val before =
      if (VerbDelete.equals(verb)) mapOf(_ => true)
      else if (isUpdate && hasOld) mapOf(_ < newAt)
      else null
    val after =
      if (VerbInsert.equals(verb)) mapOf(_ => true)
      else if (degenerate) null
      else if (isUpdate && hasOld) mapOf(_ > newAt)
      else if (isUpdate) mapOf(_ => true)
      else null
    new GenericInternalRow(Array[Any](before, after))
  }

  private final val TableSpaceBytes = "table ".getBytes("UTF-8")
  private final val InsertBytes = "INSERT".getBytes("UTF-8")
  private final val UpdateBytes = "UPDATE".getBytes("UTF-8")
  private final val DeleteBytes = "DELETE".getBytes("UTF-8")
  // fresh per call: eval results may be retained by consumers (Spark's
  // retain-requires-copy contract notwithstanding, a shared row is a
  // needless aliasing hazard for 4 null slots)
  private def NoHeader: InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, null))

  /** One byte sweep of the header grammar
    * `^table ([^.]+)\.([^:]+): (INSERT|UPDATE|DELETE): (.*)$`: every group
    * is a maximal run up to a forced one-byte literal (first `.`, first
    * `:`), so the parse is deterministic — the regex has no viable
    * backtracks. All four fields come back NULL when the grammar does not
    * match (the caller raises — an unparseable `table ...` line must not
    * become silent data loss).
    *
    * Line-terminator semantics (never produced by the wire, pinned by
    * TestDecodingScanSpec's dual-formulation equality on terminator-bearing
    * lines) are swept explicitly rather than routed to java.util.regex —
    * the old fallback cost a full terminator pre-scan of EVERY line to
    * decide a branch the wire never takes. Java's contract, restated in
    * bytes: `^` anchors at input start; the negated classes `[^.]`/`[^:]`
    * accept terminator chars (only `.` excludes them), so schema/table
    * runs need no special handling; `$` may sit before ONE final
    * terminator sequence (\r\n as a unit, else \n \r U+0085 U+2028
    * U+2029), so the effective end strips exactly that; and the payload
    * `(.*)` rejects any terminator char strictly inside it.
    */
  def header(line: UTF8String): InternalRow = {
    val bytes = line.getBytes
    val n = bytes.length
    // `$`: effective end of input, one final terminator sequence stripped
    val e =
      if (n >= 2 && bytes(n - 2) == 0x0d && bytes(n - 1) == 0x0a) n - 2
      else if (n >= 1 && (bytes(n - 1) == 0x0a || bytes(n - 1) == 0x0d)) n - 1
      else if (n >= 2 && bytes(n - 2) == 0xc2.toByte && bytes(n - 1) == 0x85.toByte) n - 2
      else if (n >= 3 && bytes(n - 3) == 0xe2.toByte && bytes(n - 2) == 0x80.toByte &&
        (bytes(n - 1) == 0xa8.toByte || bytes(n - 1) == 0xa9.toByte)) n - 3
      else n
    if (!regionMatches(bytes, 0, TableSpaceBytes)) return NoHeader
    // schema: [^.]+ up to the first '.'
    var dot = TableSpaceBytes.length
    while (dot < e && bytes(dot) != '.') dot += 1
    if (dot == TableSpaceBytes.length || dot >= e) return NoHeader
    // table: [^:]+ up to the first ':', then a forced ": "
    var colon = dot + 1
    while (colon < e && bytes(colon) != ':') colon += 1
    if (colon == dot + 1 || colon + 1 >= e || bytes(colon + 1) != ' ')
      return NoHeader
    val v = colon + 2
    if (!(regionMatches(bytes, v, InsertBytes) ||
        regionMatches(bytes, v, UpdateBytes) ||
        regionMatches(bytes, v, DeleteBytes))) return NoHeader
    val pStart = v + InsertBytes.length + 2
    if (pStart > e || bytes(v + InsertBytes.length) != ':' ||
      bytes(pStart - 1) != ' ') return NoHeader
    // payload `(.*)`: `.` matches no terminator char, so any terminator
    // byte sequence strictly inside [pStart, e) kills the whole match
    var i = pStart
    while (i < e) {
      val b = bytes(i)
      if (b == 0x0a || b == 0x0d) return NoHeader
      if (b == 0xc2.toByte && i + 1 < e && bytes(i + 1) == 0x85.toByte)
        return NoHeader
      if (b == 0xe2.toByte && i + 2 < e && bytes(i + 1) == 0x80.toByte &&
        (bytes(i + 2) == 0xa8.toByte || bytes(i + 2) == 0xa9.toByte))
        return NoHeader
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(bytes, TableSpaceBytes.length, dot - TableSpaceBytes.length),
      UTF8String.fromBytes(bytes, dot + 1, colon - (dot + 1)),
      UTF8String.fromBytes(bytes, v, InsertBytes.length),
      UTF8String.fromBytes(bytes, pStart, e - pStart)))
  }
}

/** True F19/F20 — the two wire dialects whose DECODE shape differs from the
  * JSON envelope family: TiKV delivers raw KV byte pairs, OceanBase's
  * logproxy delivers textual field maps. Both decode through the same
  * [[DeclaredTable]] contract as the generic envelope path, so every
  * downstream operator (merge, IVM, sinks) is dialect-agnostic.
  *
  * Spark-first: each decode is ONE narrow projection (binary
  * slicing + `conv`, the [[WireJsonParse]] kernel, string casts) — no
  * row-at-a-time closures, nothing shuffles.
  */
object DialectWire {

  // ------------------------------------------------------------------
  // TiKV KV-pair face (F19). The reference decodes each TiKV KV event's
  // key bytes into the row handle and its value bytes into the row
  // (RowDataTiKVEventDeserializationSchemaBase.java:46-180); the TiDB
  // record-key layout is the public `t{table_id:int64-BE}_r{handle:
  // int64-BE}` memcomparable form. Values here ride as UTF-8 JSON images
  // (the declared wire form of this engine), so the value decode reuses
  // the whole RowImage converter ladder unchanged.
  // ------------------------------------------------------------------

  /** Big-endian int64 -> 8 raw bytes (builtin-only: hex text -> unhex). */
  def be8(v: Column): Column = unhex(lpad(hex(v), 16, "0"))

  /** TiKV record key bytes for (tableId, handle). */
  def tikvKey(tableId: Column, handle: Column): Column =
    concat(lit("t").cast(BinaryType), be8(tableId),
      lit("_r").cast(BinaryType), be8(handle))

  /** 8 bytes at 1-based `pos` -> int64 (positive range; handles and table
    * ids are). `conv` parses the hex digits as base-16.
    */
  private def beLong(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 8)), 16, 10).cast(LongType)

  /** Decode a TiKV-shaped KV stream
    * `(key: binary, value: binary, op, commit_ts: long)` into the generic
    * IR `(offset, op, ts_ms, table_id, key, before, after)`:
    *
    *   - key bytes -> (table_id, handle); handle becomes the single-column
    *     record key (TiDB clustered handle = the pk)
    *   - value bytes -> UTF-8 JSON -> the declared-type image through
    *     [[RowImage.decodeEnvelope]]'s ladder (deletes carry no value,
    *     exactly the KV delete form)
    *   - offset/ts_ms from the commit version (TSO: physical millis in the
    *     high 18 bits shifted out)
    *
    * Malformed keys (wrong tag bytes) decode to null table_id/handle
    * rather than failing the stream — the caller can route them to a
    * dead-letter side like the validator hook.
    */
  def decodeTikvKv(kv: DataFrame, table: DeclaredTable): DataFrame = {
    require(table.pkCols.length == 1, "TiKV clustered handle is a single pk")
    val ws = RowImage.wireSchema(table.schema)
    val keyOk = length(col("key")) === 19 &&
      substring(col("key"), 1, 1) === lit("t").cast(BinaryType) &&
      substring(col("key"), 10, 2) === lit("_r").cast(BinaryType)
    val handle = when(keyOk, beLong(col("key"), 12))
    val tableId = when(keyOk, beLong(col("key"), 2))
    // the parse is bound as a column first: the image decode reads it
    // inside a null guard, where common-subexpression elimination does not
    // look, so an inline parse would run once per field
    val after = when(col("op") =!= "d",
      RowImage.decodeField(StructField("img", table.schema))(col("_w")))
    val pkName = table.pkCols.head
    kv.withColumn("_w", WireJsonParse(col("value").cast(StringType), ws)).select(
      // TSO: physical milliseconds ride in the upper bits (public TiDB
      // timestamp-oracle layout: ts = physical << 18 | logical)
      col("commit_ts").as("offset"),
      col("op"),
      shiftrightunsigned(col("commit_ts"), 18).as("ts_ms"),
      tableId.as("table_id"),
      struct(handle.as(pkName)).as("key"),
      lit(null).cast(table.schema).as("before"),
      after.as("after"))
  }

  // ------------------------------------------------------------------
  // OceanBase logproxy face (F20). The reference decodes LogMessage
  // records whose old/new field values arrive as TEXT maps
  // (RowDataOceanBaseDeserializationSchema.java:56-231 routes
  // DataMessage.Record.Field lists through per-type textual converters).
  // Spark-first: the textual ladder is a per-field string cast column.
  // ------------------------------------------------------------------

  /** Textual converter ladder: logproxy field TEXT -> declared type.
    * Dates/timestamps/decimals/ints parse from their SQL textual forms
    * (session tz is UTC, matching logproxy's rendering contract here);
    * binary arrives hex-encoded.
    */
  def textualDecodeField(f: StructField): Column => Column = f.dataType match {
    case BinaryType => c => unhex(c)
    case other      => c => c.cast(other)
  }

  /** Decode an OceanBase-logproxy-shaped record stream
    * `(rtype, ts_s: long, tenant, db, tbl, olds: map<string,string>,
    * news: map<string,string>)` into the generic IR
    * `(offset, op, ts_ms, tenant_name, key, before, after)`.
    *
    * rtype maps INSERT -> c, UPDATE -> u, DELETE -> d (HEARTBEAT and DDL
    * records are dropped here — P5's record-class filter handles them);
    * ts_ms = ts_s * 1000 (logproxy timestamps are seconds); offsets are
    * the records' (ts_s, seq) fold since logproxy has no global offset —
    * callers pass a unique `seq` column.
    */
  def decodeLogProxy(records: DataFrame, table: DeclaredTable): DataFrame = {
    def image(m: Column): Column = {
      val fields = table.schema.fields.map { f =>
        textualDecodeField(f)(element_at(m, f.name)).as(f.name)
      }
      when(m.isNull, lit(null).cast(table.schema))
        .otherwise(struct(fields.toIndexedSeq: _*))
    }
    val op = when(col("rtype") === "INSERT", "c")
      .when(col("rtype") === "UPDATE", "u")
      .when(col("rtype") === "DELETE", "d")
    val before = image(col("olds"))
    val after  = image(col("news"))
    val key = struct(table.pkCols.map(c =>
      coalesce(col("after").getField(c), col("before").getField(c)).as(c)): _*)
      .cast(table.keyType)
    records
      .where(col("rtype").isin("INSERT", "UPDATE", "DELETE"))
      .select(
        (col("ts_s") * 1000000 + col("seq")).as("offset"),
        op.as("op"),
        (col("ts_s") * 1000).as("ts_ms"),
        col("tenant").as("tenant_name"),
        col("olds"), col("news"))
      .withColumn("before", before)
      .withColumn("after", after)
      .withColumn("key", key)
      .select(col("offset"), col("op"), col("ts_ms"), col("tenant_name"),
        col("key"), col("before"), col("after"))
  }

  // ------------------------------------------------------------------
  // PostgreSQL logical-decoding textual face. The reference's Postgres
  // connector selects a server-side logical decoding output plugin
  // (PostgreSQLSource.java:44-59: decoderbufs / wal2json / pgoutput) and
  // consumes its change stream; the plugin every PostgreSQL ships with is
  // contrib's `test_decoding`, whose public textual grammar is
  //   table <schema>.<table>: INSERT|UPDATE|DELETE: col[type]:value ...
  //   BEGIN <xid> / COMMIT <xid> [(at <timestamptz>)]
  // with UPDATE old images behind `old-key:` and new images behind
  // `new-tuple:`, quoted values doubling embedded quotes. PgLiveSpec
  // replays this decode against a real PostgreSQL 15 server end-to-end.
  // ------------------------------------------------------------------

  /** One field token: `name[type]:value` where value is either a
    * single-quoted string (embedded quotes doubled) or a bare token
    * (numbers, booleans, `null`, `unchanged-toast-datum`). The same RE2-safe
    * pattern runs in Spark (Java regex) and the DuckDB oracle.
    */
  val TestDecodingField = """([\w$]+)\[([^\]]+)\]:('[^']*(?:''[^']*)*'|[^ ]+)"""

  /** The full payload token stream: an UPDATE's image markers OR a field
    * token. One left-to-right scan consumes quoted values atomically, so a
    * VALUE whose text embeds `new-tuple: x[type]:...` can never be mistaken
    * for the marker — the scanner is already inside the quotes when it
    * passes it (a split-on-marker regex provably gets this wrong).
    * Groups: 1 = marker, 2 = field name, 3 = raw field value.
    */
  val TestDecodingToken =
    """(old-key:|new-tuple:)|([\w$]+)\[[^\]]+\]:('[^']*(?:''[^']*)*'|[^ ]+)"""

  /** The change-record header grammar:
    * `table <schema>.<table>: INSERT|UPDATE|DELETE: <payload>`.
    */
  val TestDecodingHeader =
    "^table ([^\\.]+)\\.([^:]+): (INSERT|UPDATE|DELETE): (.*)$"

  /** The plugin's marker for a TOASTed column the UPDATE did not touch
    * (the value is not in the WAL record). Kept distinct from NULL through
    * tokenization so the image builder can fall back to the before-image.
    */
  val UnchangedToast = "unchanged-toast-datum"

  /** Placeholder for a value that is genuinely NOT in the WAL: an unchanged
    * TOASTed datum on an UPDATE with no before image (default REPLICA
    * IDENTITY). Distinct from NULL so consumers — and the LWW
    * materialization, which carries the prior stored value forward instead
    * of clobbering it — can tell "not in this record" from "set to NULL".
    * Mirrors the reference's Debezium `unavailable.value.placeholder`
    * (PostgresConnectorConfig#UNAVAILABLE_VALUE_PLACEHOLDER). Only string
    * and binary columns can carry the placeholder in a typed image; an
    * unchanged-toast marker on any other column type (TOASTed numeric/array
    * with no before image) fails loudly, because silently decoding it to
    * NULL is data loss.
    */
  val UnavailableValue = "__graft_unavailable_value__"

  /** `name[type]:value` token run -> map<name, normalized value>: outer
    * quotes stripped, doubled quotes folded, bare `null` mapped to SQL
    * NULL; [[UnchangedToast]] passes through verbatim for the image
    * builder.
    */
  def testDecodingFields(payload: Column): Column = {
    val names = regexp_extract_all(payload, lit(TestDecodingField), lit(1))
    val raws = regexp_extract_all(payload, lit(TestDecodingField), lit(3))
    val vals = transform(raws, raw =>
      when(raw.startsWith("'"),
        regexp_replace(raw.substr(lit(2), length(raw) - 2), "''", "'"))
        .when(raw === "null", lit(null).cast(StringType))
        .otherwise(raw))
    when(payload.isNull, lit(null).cast(MapType(StringType, StringType)))
      .otherwise(map_from_arrays(names, vals))
  }

  /** PostgreSQL textual converter ladder: the logproxy ladder plus the
    * bytea rendering (`\x` + lowercase hex, quotes already stripped).
    */
  def pgTextualDecodeField(f: StructField): Column => Column = f.dataType match {
    case BinaryType => c => unhex(regexp_replace(c, "^\\\\x", ""))
    case other      => c => c.cast(other)
  }

  /** Decode a `test_decoding` change stream
    * `(lsn: string pg_lsn text, xid: long, data: string)` into the generic
    * IR `(offset, op, ts_ms, schema_name, key, before, after)`:
    *
    *   - `table ...` lines carry the images; BEGIN/COMMIT markers are
    *     dropped here, but COMMIT lines' optional `(at <ts>)` suffix (the
    *     plugin's include-timestamp option) is joined back onto the
    *     transaction's rows as ts_ms — one commit row per txn, so the join
    *     side is txn-count sized, and deletes/updates keep full images
    *     under REPLICA IDENTITY FULL exactly like the reference requires
    *     of its plugins
    *   - offsets are the numeric pg_lsn fold ([[graft.cdc.offsets.DialectOffsets.pgLsnValue]]),
    *     PostgreSQL's own total commit order
    *   - field text decodes through the same [[textualDecodeField]] ladder
    *     as the logproxy face
    */
  def decodeTestDecoding(lines: DataFrame, table: DeclaredTable): DataFrame = {
    import graft.cdc.offsets.DialectOffsets.pgLsnValue
    GraftFunctions.register(lines.sparkSession)
    val commits = lines
      .where(col("data").rlike("^COMMIT \\d"))
      .select(col("xid").as("c_xid"),
        to_timestamp(regexp_extract(col("data"), "\\(at (.+)\\)$", 1))
          .as("c_ts"))
      .where(col("c_ts").isNotNull)
      // a txn commits once; replayed change batches repeat the marker, and
      // a duplicated join side would fan the rows out
      .groupBy(col("c_xid")).agg(max(col("c_ts")).as("c_ts"))
    // a 'table ...' line the header grammar cannot parse must fail loudly
    // instead of being silently dropped by the table-name filter below
    // (unparseable change records as silent data loss). Two forms: a name
    // containing ':' fails the regex outright (NULL header fields from the
    // native scanner), and a QUOTED identifier ("odd name") extracts with
    // its quote characters kept — never equal to any declared table name,
    // so equally silent. The header parse is ONE native find() sweep
    // ([[TestDecodingScan.header]]) filling all four groups — the
    // per-group `regexp_extract` form re-ran the regex 4x per line.
    val tableNameOrFail = {
      val extracted = col("hdr").getField("table_name")
      when(extracted.isNull || extracted.contains("\""),
        raise_error(concat(
          lit("unparseable test_decoding change record (header grammar drift?): "),
          col("data")))).otherwise(extracted)
    }
    val rows = lines
      .where(col("data").startsWith("table "))
      .select(col("lsn"), col("xid"), col("data"),
        call_function("graft_testdecoding_header", col("data")).as("hdr"))
      .select(col("lsn"), col("xid"),
        col("hdr").getField("schema_name").as("schema_name"),
        tableNameOrFail.as("table_name"),
        col("hdr").getField("verb").as("verb"),
        col("hdr").getField("payload").as("payload"))
      .where(col("table_name") === table.name)
    // ONE left-to-right token scan of the payload (markers and fields are
    // both tokens; quoted values are consumed atomically, so marker text
    // inside a value is unreachable), fused with value normalization and
    // before/after routing in the native [[TestDecodingScan.images]] pass:
    // DELETE is all-before, INSERT all-after, an UPDATE splits at the
    // new-tuple marker, an UPDATE without an old image (default replica
    // identity, key untouched) is all-after. The routed maps materialize
    // as COLUMNS in their own projection: every downstream field lookup
    // references them several times, and CollapseProject keeps a non-cheap
    // expression referenced more than once in its own stage, so the scan
    // runs ONCE per row instead of once per field per image.
    val mapped = rows.select(
      col("lsn"), col("xid"), col("schema_name"), col("verb"),
      call_function("graft_testdecoding_images",
        col("verb"), col("payload")).as("im"))
      .select(
        col("lsn"), col("xid"), col("schema_name"), col("verb"),
        col("im").getField("before_map").as("before_map"),
        col("im").getField("after_map").as("after_map"))
    def image(m: Column, toastFallback: Option[Column]): Column = {
      val fields = table.schema.fields.map { f =>
        // when the value is genuinely absent from the WAL (unchanged TOAST
        // and no before image to inherit from — default replica identity),
        // emit the typed [[UnavailableValue]] placeholder — NOT NULL, which
        // a materializer would take as "set to NULL" and clobber the stored
        // TOAST value with — or fail loudly where the column type cannot
        // carry a placeholder
        val placeholderOrFail: Column = f.dataType match {
          case StringType => lit(UnavailableValue)
          case BinaryType => lit(UnavailableValue.getBytes("UTF-8"))
          case _ => raise_error(lit(
            s"unchanged-toast-datum for non-string column ${table.name}.${f.name} " +
              "with no before image: set REPLICA IDENTITY FULL on the " +
              "source table (the WAL does not carry the value)"))
            .cast(f.dataType)
        }
        val raw = element_at(m, f.name)
        val v = toastFallback match {
          // a TOASTed column the UPDATE didn't touch isn't in the WAL's
          // new tuple; under REPLICA IDENTITY FULL the old tuple carries
          // the full value, so the after-image inherits it. An UPDATE
          // under DEFAULT replica identity has no old tuple (or, on a pk
          // update, a key-only one): no value to inherit — and since an
          // unchanged-toast marker implies the stored value was a real
          // (non-NULL) toasted datum, a NULL inherited field can only mean
          // "not carried", never "was NULL", so coalescing to the
          // placeholder is lossless
          case Some(b) => when(raw === UnchangedToast,
              coalesce(b.getField(f.name), placeholderOrFail))
            .otherwise(pgTextualDecodeField(f)(raw))
          case None => when(raw === UnchangedToast, placeholderOrFail)
            .otherwise(pgTextualDecodeField(f)(raw))
        }
        v.as(f.name)
      }
      when(m.isNull, lit(null).cast(table.schema))
        .otherwise(struct(fields.toIndexedSeq: _*))
    }
    val op = when(col("verb") === "INSERT", "c")
      .when(col("verb") === "UPDATE", "u")
      .otherwise("d")
    val decoded = mapped
      .withColumn("before", image(col("before_map"), None))
      .withColumn("after", image(col("after_map"), Some(col("before"))))
    def keyOf(img: Column): Column = struct(table.pkCols.map(c =>
      img.getField(c).as(c)): _*).cast(table.keyType)
    val afterKey = struct(table.pkCols.map(c =>
      coalesce(col("after").getField(c), col("before").getField(c)).as(c)): _*)
      .cast(table.keyType)
    // a key-changing UPDATE is one wire record but TWO state transitions:
    // the old key dies, the new key is born (the reference's Debezium
    // stream delivers exactly this delete+create pair for pk updates) —
    // emitted here as two IR rows sharing the record's lsn
    val keyChanged = col("op") === "u" && col("before").isNotNull &&
      !(keyOf(col("before")) <=> col("key"))
    val base = decoded
      .join(commits, decoded("xid") === commits("c_xid"), "left")
      .select(
        pgLsnValue(col("lsn")).cast(LongType).as("offset"),
        op.as("op"),
        unix_millis(col("c_ts")).as("ts_ms"),
        col("schema_name"),
        afterKey.as("key"), col("before"), col("after"))
    val nullImg = lit(null).cast(table.schema)
    base.select(col("offset"), col("ts_ms"), col("schema_name"),
        explode(when(keyChanged, array(
            struct(lit("d").as("op"), keyOf(col("before")).as("key"),
              col("before"), nullImg.as("after")),
            struct(lit("c").as("op"), col("key"),
              nullImg.as("before"), col("after"))))
          .otherwise(array(struct(col("op"), col("key"),
            col("before"), col("after"))))).as("t"))
      .select(col("offset"), col("t.op").as("op"), col("ts_ms"),
        col("schema_name"), col("t.key").as("key"),
        col("t.before").as("before"), col("t.after").as("after"))
  }
}
