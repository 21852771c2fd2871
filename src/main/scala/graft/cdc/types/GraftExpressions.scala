package graft.cdc.types

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, ExprUtils, Expression, ExpressionInfo, ImplicitCastInputTypes, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, GraftFrames, SparkSession}
import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.unsafe.types.UTF8String
import graft.ext.TextAnalysis

/** Native Catalyst expressions (with `doGenCode`) for the two scalar
  * functions that have no SQL equivalent — preferred over Scala UDFs so they
  * stay inside whole-stage codegen (no boxing/encoder round trip):
  *
  *  - `graft_fnv64(string) -> bigint`: FNV-1a 64 document fingerprint
  *  - `graft_wkb_geojson(binary) -> string`: WKB -> GeoJSON (F12; reference
  *    MySqlDeserializationConverterFactory.java:68-113)
  *
  * Registered either programmatically ([[GraftFunctions.register]]) or via
  * `spark.sql.extensions=graft.cdc.types.GraftExtensions`.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string or binary argument, got ${child.dataType.catalogString}")

  private def isBinary: Boolean = child.dataType == BinaryType

  override protected def nullSafeEval(input: Any): Any =
    if (isBinary) TextAnalysis.fnv1a64Bytes(input.asInstanceOf[Array[Byte]])
    else TextAnalysis.fnv1a64Bytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isBinary)
      defineCodeGen(ctx, ev, c => s"graft.ext.TextAnalysis.fnv1a64Bytes($c)")
    else
      defineCodeGen(ctx, ev, c => s"graft.ext.TextAnalysis.fnv1a64Bytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

/** `graft_nfc_clean(string) -> string`: Unicode NFC normalization + C0/DEL
  * control strip + ASCII-whitespace collapse + trim
  * ([[TextAnalysis.nfcClean]]) — the canonicalization pass that runs before
  * hash-based dedup so composed and decomposed spellings of the same text
  * share a fingerprint. Native so the cleanup sits inside whole-stage
  * codegen ahead of `graft_fnv64`/`graft_minhash` in the same compiled
  * stage (a Scala UDF here would box every document once per pipeline).
  */
case class NfcClean(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc_clean"

  override protected def nullSafeEval(input: Any): Any =
    TextAnalysis.nfcCleanU(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TextAnalysis.nfcCleanU($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcClean =
    copy(child = newChild)
}

/** `graft_clz64(bigint) -> int`: count of leading zero bits in the 64-bit
  * two's-complement pattern (`Long.numberOfLeadingZeros`) — the HLL rank
  * primitive for [[graft.ext.Curation.hllRegisters]]. One hardware
  * instruction inside whole-stage codegen; the portable SQL alternative
  * (`length(bin(x))`) allocates a string per row.
  */
case class Clz64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_clz64"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.numberOfLeadingZeros(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Long.numberOfLeadingZeros($c)")

  override protected def withNewChildInternal(newChild: Expression): Clz64 =
    copy(child = newChild)
}

/** `graft_gtid_contains(a, b) -> boolean`: GTID interval-set containment
  * (is set `a` covered by set `b` — Debezium `GtidSet.isContainedWithin`
  * semantics, [[graft.cdc.offsets.BinlogOffsets.GtidSet]]). Native so the
  * startup-offset filters (F18; reference BinlogOffset.java:185-202) stay
  * inside whole-stage codegen instead of paying a Scala-UDF encoder round
  * trip per row.
  */
/** `graft_zorder(array<long>, bits) -> long`: Morton interleave of the low
  * `bits` bits of each key — the multi-dimensional clustering value for
  * file-level data skipping at 100 TB (range-partition + sort by this value
  * and every dimension's per-file min/max stays tight, so predicates on ANY
  * key prune files). Compiled into whole-stage codegen; `bits` must be
  * foldable and `n * bits <= 63`.
  */
case class ZOrderValue(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_zorder"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
        org.apache.spark.sql.types.IntegerType)
        if right.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, foldable int), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ext.Hashing.zorder(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.Hashing.zorder($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderValue =
    copy(left = newLeft, right = newRight)
}

case class GtidContains(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_gtid_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.cdc.offsets.BinlogOffsets.gtidContains(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.cdc.offsets.BinlogOffsets.gtidContains($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GtidContains =
    copy(left = newLeft, right = newRight)
}

/** `graft_dot(a, b) -> double`: sequential dot product over two double
  * arrays — bit-identical to the `aggregate(zip_with(...))` HOF left fold
  * (and to the DuckDB oracle's `list_reduce`), but compiled into the
  * whole-stage-codegen loop instead of interpreted per element. The hot
  * inner op of every cosine-similarity operator. Arrays of unequal length
  * yield null (the HOF form's null-padding also nulls the fold), and a null
  * ELEMENT on either side nulls the whole fold too — matching the HOF form,
  * which propagates element nulls through the sum. The element null check is
  * emitted only when the input type says `containsNull`, so non-nullable
  * arrays keep the branch-free loop.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def elemsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else if (elemsNullable) {
      var acc = 0.0
      var i = 0
      var sawNull = false
      while (i < n && !sawNull) {
        if (x.isNullAt(i) || y.isNullAt(i)) sawNull = true
        else { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      }
      if (sawNull) null else acc
    } else {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val elemNullCheck =
        if (elemsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `graft_mix64(a, b) -> bigint`: splitmix64-family mixer used to derive
  * MinHash permutations and LSH hyperplane signs from a base hash
  * ([[graft.ext.Hashing.mix64]]). Native so the 32-hash MinHash signature
  * stays inside whole-stage codegen, and engine-replicable (mod-2^64
  * unsigned arithmetic) so the LSH operators keep a DuckDB oracle.
  */
case class Mix64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_mix64"
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ext.Hashing.mix64(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.Hashing.mix64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Mix64 =
    copy(left = newLeft, right = newRight)
}

/** `graft_winnow(text, k, w) -> array<bigint>`: winnowing fingerprints
  * (k-gram FNV rolling hashes -> w-window minima -> first-occurrence dedup,
  * [[graft.ext.Hashing.winnow]]) as one compiled pass per document. k and w
  * must be foldable ints.
  */
case class WinnowFingerprints(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType)
          if second.foldable && third.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable int k, foldable int w), got " +
          s"${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString}")
    }

  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    graft.ext.Hashing.winnow(
      t.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.ext.Hashing.winnow($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFingerprints =
    copy(first = f, second = s, third = t)
}

/** `graft_simhash64(array<string>) -> bigint`: per-document 64-bit SimHash
  * (FNV base hash + per-bit majority vote, [[graft.ext.Hashing.simhash64]])
  * as one compiled loop — replaces an explode + 64-column vote aggregation
  * (a full shuffle of every shingle row) with a narrow projection.
  */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    graft.ext.Hashing.simhash64(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.Hashing.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/** `graft_minhash(array<string>, k) -> array<bigint>`: per-document MinHash
  * signature (element i = min over shingles of mix64(fnv64(shingle), i),
  * [[graft.ext.Hashing.minhashSig]]) as one compiled loop — replaces an
  * explode + k-column min aggregation with a narrow projection. `k` must be
  * a foldable int.
  */
case class MinhashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), org.apache.spark.sql.types.IntegerType)
        if right.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ext.Hashing.minhashSig(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.Hashing.minhashSig($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinhashSig =
    copy(left = newLeft, right = newRight)
}

/** `graft_shingle_minhash(array<string> words, n, k) -> array<bigint>`:
  * fused shingle->MinHash ([[graft.ext.Hashing.shingleMinhash]]) — hashes
  * every n-word shingle straight from the word bytes (no shingle strings,
  * no intermediate array) and folds the k-mix minima in the same compiled
  * loop. Same hash family and output as
  * `graft_minhash(array_distinct(transform(...)), k)`, at one pass per doc.
  * `n` and `k` must be foldable ints.
  */
case class ShingleMinhash(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.IntegerType)
          if second.foldable && third.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int n, foldable int k), got " +
          s"${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString}")
    }

  override protected def nullSafeEval(ws: Any, n: Any, k: Any): Any =
    graft.ext.Hashing.shingleMinhash(
      ws.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.ext.Hashing.shingleMinhash($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ShingleMinhash =
    copy(first = f, second = s, third = t)
}

/** `graft_shingle_simhash64(array<string> words, n) -> bigint`: fused
  * shingle->SimHash ([[graft.ext.Hashing.shingleSimhash64]]) — distinct
  * n-word shingle hashes voted per bit in one compiled pass. Same output as
  * `graft_simhash64(array_distinct(transform(...)))`.
  */
case class ShingleSimhash64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_shingle_simhash64"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), org.apache.spark.sql.types.IntegerType)
        if right.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(ws: Any, n: Any): Any =
    graft.ext.Hashing.shingleSimhash64(
      ws.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ext.Hashing.shingleSimhash64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleSimhash64 =
    copy(left = newLeft, right = newRight)
}

case class WkbGeoJson(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_wkb_geojson"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Wkb.toGeoJson(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.cdc.types.Wkb.toGeoJson($c))")

  override protected def withNewChildInternal(newChild: Expression): WkbGeoJson =
    copy(child = newChild)
}

/** `graft_bpe(array<string> syms, array<array<string>> merges) ->
  * array<string>`: apply an ordered BPE merge list (each element a
  * [left, right] pair) in ONE compiled pass
  * ([[graft.ext.Bpe.applyMergesData]]). The composed-HOF alternative —
  * nMerges nested `aggregate()` folds — multiplies its expression tree per
  * merge and exhausts the driver heap around 20 merges; this expression is
  * the production tokenizer path. `merges` is the learned model and must
  * be foldable (a literal): it is decoded once per executor, not per row.
  */
case class BpeApply(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _))
        if right.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable array<array<string>>), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  @transient private lazy val merges: Array[Array[String]] = {
    val ad = right.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      val p = ad.getArray(i)
      Array(p.getUTF8String(0).toString, p.getUTF8String(1).toString)
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.ext.Bpe.applyMergesData(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], merges)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerges", merges, "java.lang.String[][]")
    defineCodeGen(ctx, ev, (a, _) => s"graft.ext.Bpe.applyMergesData($a, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeApply =
    copy(left = newLeft, right = newRight)
}

/** `graft_testdecoding_header(line) -> struct<schema_name, table_name,
  * verb, payload>`: the test_decoding change-record header
  * ([[DialectWire.TestDecodingHeader]]) parsed in ONE native matcher sweep
  * ([[TestDecodingScan.header]]); all four fields are NULL when the grammar
  * does not match (callers raise — silent drop of an unparseable change
  * record is data loss). The per-group `regexp_extract` form ran the
  * header regex 4x per line.
  */
case class TestDecodingHeaderParse(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = TestDecodingScan.headerType
  override def prettyName: String = "graft_testdecoding_header"

  override protected def nullSafeEval(input: Any): Any =
    TestDecodingScan.header(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.cdc.types.TestDecodingScan.header($c)")

  override protected def withNewChildInternal(newChild: Expression): TestDecodingHeaderParse =
    copy(child = newChild)
}

/** `graft_testdecoding_images(verb, payload) -> struct<before_map
  * map<string,string>, after_map map<string,string>>`: the full token-scan
  * + image-routing pipeline of the test_decoding decode in ONE native pass
  * ([[TestDecodingScan.images]]) — value normalization and
  * before/after routing included, replacing the three-array token struct,
  * the `array_position`/`filter`/`transform` per-index HOF passes, and
  * `map_from_arrays`. TestDecodingScanSpec pins equality with the Column
  * formulation.
  */
case class TestDecodingImages(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = TestDecodingScan.imagesType
  override def prettyName: String = "graft_testdecoding_images"

  override protected def nullSafeEval(verb: Any, payload: Any): Any =
    TestDecodingScan.images(
      verb.asInstanceOf[UTF8String], payload.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (v, p) => s"graft.cdc.types.TestDecodingScan.images($v, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TestDecodingImages =
    copy(left = newLeft, right = newRight)
}

/** `graft_wire_json(json) -> struct | map`: the one wire-JSON parse
  * kernel. Every JSON record the engine decodes (envelope images, Debezium
  * records, TiKV values, schema-history records) is parsed here, once per
  * record, into its wire schema. It runs Spark's own `JacksonParser` inside
  * a PERMISSIVE `FailureSafeParser` with `from_json`'s options,
  * corrupt-record column and session time zone, so its output equals
  * `from_json`'s (WireJsonSpec pins that over generated schemas and
  * strings, malformed JSON and invalid UTF-8 included). What differs is the
  * reader: `from_json` wraps every record in a new `InputStreamReader` with
  * its own 8 KB decoder buffer; this kernel hands Jackson the decoded
  * `String` (U+FFFD for invalid UTF-8, the characters the reader yields
  * too). Being its own node, it is also out of reach of
  * `OptimizeJsonExprs`, which rewrites a `from_json` under field
  * extractions into one parse per extracted field; here the parse stays
  * one deterministic subexpression that common-subexpression elimination
  * shares across every field read.
  *
  * Like `from_json`, it is a `CodegenFallback`, so a plan node holding it
  * runs outside whole-stage codegen. That is deliberate: there, filters
  * get common-subexpression elimination too, and a key filter that
  * Catalyst pushes below a decode (the hybrid flow's phase filter) parses
  * each frame once; a whole-stage-codegen'd filter has no elimination and
  * parses it once per comparison. Counted over a 176k-frame changelog,
  * the hybrid flow at 4 chunks (filter plus decode) made 2.0 parses per
  * frame, and 7.2 with a generated-code kernel.
  */
case class WireJsonParse(
    child: Expression,
    schema: DataType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes
    with CodegenFallback {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override lazy val dataType: DataType = WireJsonParse.asNullable(schema)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_wire_json"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val evaluator = new WireJsonEvaluator(dataType, timeZoneId.get,
    SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD))

  override protected def nullSafeEval(input: Any): Any =
    evaluator.evaluate(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): WireJsonParse =
    copy(child = newChild)
}

object WireJsonParse {

  /** `json` parsed into `schema`, a struct or map type whose fields and
    * values are all made nullable, as `from_json` makes them. Null, empty
    * or blank input parses to null; malformed input to a struct of nulls
    * (to null for a map schema).
    */
  def apply(json: Column, schema: DataType): Column = {
    require(schema.isInstanceOf[StructType] || schema.isInstanceOf[MapType],
      s"graft_wire_json parses into a struct or map, not $schema")
    GraftFrames.column(WireJsonParse(GraftFrames.expression(json), schema))
  }

  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(asNullable(k), asNullable(v), valueContainsNull = true)
    case other => other
  }
}

/** Per-task state of [[WireJsonParse]]: the parser is built lazily where it
  * runs, the way `from_json`'s evaluator builds its own. A map schema
  * parses as the one field of a wrapper struct, as in `from_json`.
  */
final class WireJsonEvaluator(schema: DataType, timeZoneId: String, corruptColumn: String)
    extends Serializable {

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId, corruptColumn)
    val (parserSchema, actual) = schema match {
      case s: StructType =>
        ExprUtils.verifyColumnNameOfCorruptRecord(s, options.columnNameOfCorruptRecord)
        (s, StructType(s.filterNot(_.name == options.columnNameOfCorruptRecord)))
      case other => (StructType(Seq(StructField("value", other))), other)
    }
    val jackson = new JacksonParser(actual, options, allowArrayAsStructs = false)
    val fromString = (factory: JsonFactory, json: UTF8String) => factory.createParser(json.toString)
    new FailureSafeParser[UTF8String](
      json => jackson.parse(json, fromString, identity[UTF8String]),
      PermissiveMode, parserSchema, options.columnNameOfCorruptRecord)
  }

  def evaluate(json: UTF8String): AnyRef = {
    val rows = parser.parse(json)
    if (!rows.hasNext) null
    else schema match {
      case _: StructType => rows.next()
      case _ => rows.next().getMap(0)
    }
  }
}

/** `graft_bigrams(text) -> array<string>`: all single-space word bigrams
  * as ZERO-COPY byte spans of the input
  * ([[graft.ext.TextAnalysis.bigramSpans]]) — replaces the
  * split + `transform(sequence, slice/concat_ws)` HOF pipeline, which
  * materialized the word array plus one sliced pair array per bigram
  * outside whole-stage codegen. Fewer than two words -> empty array, so
  * `explode` reproduces the old `size >= 2` filter.
  */
case class Bigrams(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams"

  override protected def nullSafeEval(input: Any): Any =
    graft.ext.TextAnalysis.bigramSpans(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ext.TextAnalysis.bigramSpans($c)")

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

/** `graft_ngrams(text, n) -> array<string>`: [[Bigrams]] generalized to any
  * foldable n >= 1 ([[graft.ext.TextAnalysis.ngramSpans]]) — all word
  * n-grams under single-space splitting as zero-copy byte spans,
  * byte-identical to the `split`/`transform`/`concat_ws(' ', slice(...))`
  * HOF pipeline it replaces, with fewer-than-n-words yielding an empty
  * array (≡ the old size filter once exploded).
  */
case class NgramSpans(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, org.apache.spark.sql.types.IntegerType)
          if right.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable int n), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override protected def nullSafeEval(text: Any, n: Any): Any =
    graft.ext.TextAnalysis.ngramSpans(
      text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.ext.TextAnalysis.ngramSpans($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramSpans =
    copy(left = newLeft, right = newRight)
}

/** `graft_jl_project(embedding array<float>, outDim, seed) ->
  * array<double>`: signed (±1) JL projection in one compiled loop
  * ([[graft.ext.Similarity.jlProject]]); sign(j,i) regenerates from
  * mix64(j*4096+i, seed) cell-by-cell exactly like the
  * `transform(...aggregate...)` HOF form it replaces, with the same
  * i-ascending double fold, so each coordinate hash-matches the DuckDB
  * replay. outDim and seed are the model shape — foldable only.
  */
case class JlProject(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_jl_project"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.FloatType, _),
          org.apache.spark.sql.types.IntegerType,
          LongType) if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, foldable int outDim, foldable " +
          s"long seed), got ${first.dataType.catalogString}, " +
          s"${second.dataType.catalogString}, ${third.dataType.catalogString}")
    }

  override protected def nullSafeEval(e: Any, d: Any, s: Any): Any =
    graft.ext.Similarity.jlProject(
      e.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      d.asInstanceOf[Int], s.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b, c) => s"graft.ext.Similarity.jlProject($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): JlProject =
    copy(first = f, second = s, third = t)
}

/** Flattened PQ codebooks for [[PqArgmin]]: `codes` are the (shared) code
  * ids of every subspace in ascending order; `cvs` is the sub-major,
  * code-major, dim-minor flattening of the centroid vectors; `cvvs` the
  * matching self-dots (`m` subspaces of `kEff` codes each). Built on the
  * driver by the PQ fit ([[graft.ext.Similarity.pqCodebooks]]) and shipped
  * to codegen as a reference object.
  */
case class PqBooksLit(
    codes: Array[Long],
    cvs: Array[Double],
    cvvs: Array[Double]) {
  val kEff: Int = codes.length
  val m: Int = if (kEff == 0) 0 else cvvs.length / kEff
  val dsub: Int = if (cvvs.length == 0) 0 else cvs.length / cvvs.length

  /** Argmin over this row's subspace codebook of `pd = cvv - 2*sv.cv` with
    * ties to the smallest code id — the same candidate score and the same
    * (pd, code) lexicographic minimum as the broadcast-join + min_by
    * formulation (`pd` is never NaN or -0.0 for finite inputs: cvv >= 0 and
    * IEEE a-b of equal finite values is +0.0), and the same ascending-i
    * sequential dot fold as [[DotProduct]]. Requires non-null `sv` elements
    * (subvectors are arithmetic on non-null floats by construction).
    */
  def argmin(sub: Int, sv: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var best = Double.PositiveInfinity
    var bestCode = Long.MaxValue
    var j = 0
    while (j < kEff) {
      val c = sub * kEff + j
      val off = c * dsub
      var dot = 0.0
      var i = 0
      while (i < dsub) { dot += sv.getDouble(i) * cvs(off + i); i += 1 }
      val pd = cvvs(c) - 2.0 * dot
      if (pd < best || (pd == best && codes(j) < bestCode)) {
        best = pd
        bestCode = codes(j)
      }
      j += 1
    }
    bestCode
  }
}

/** `graft_sorted_fold(array<struct<k, v:double>>) -> double`: the
  * order-deterministic sum `aggregate(sort_array(collect_list(struct(k,
  * v))), 0D, (acc, x) -> acc + x.v)` as ONE compiled sort+fold — the
  * pattern every hash-exact fit/score in this engine uses to pin its IEEE
  * summation order. The HOF form interprets the struct comparator and the
  * fold lambda per element; this sorts primitive key/value arrays and sums
  * in a tight loop, with the same ordering semantics: k ascending
  * (int/long/string — strings by binary UTF-8 like Spark), ties by v under
  * Spark's SQL double ordering (`SQLOrderingUtil.compareDoubles`), seed
  * 0.0, left-to-right `acc + v`. A null v nulls the whole fold (null
  * poisons the HOF's sum the same way at any position). Null keys are NOT
  * supported (sort_array and array_sort disagree on null placement; no
  * caller produces one — keys are group keys, positions or hashes).
  */
case class SortedFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sorted_fold"

  private def kvTypes: Option[(DataType, DataType)] = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StructType(fields), _)
        if fields.length == 2 => Some((fields(0).dataType, fields(1).dataType))
    case _ => None
  }

  /** Key kind dispatched to the runtime: 0=int, 1=long, 2=string, 3=double. */
  private lazy val kKind: Int = kvTypes.get._1 match {
    case org.apache.spark.sql.types.IntegerType => 0
    case LongType => 1
    case StringType => 2
    case DoubleType => 3
    case dt => throw new IllegalStateException(s"unsupported key type $dt")
  }

  override def checkInputDataTypes(): TypeCheckResult = kvTypes match {
    case Some((k, DoubleType)) if Seq(
        org.apache.spark.sql.types.IntegerType, LongType, StringType,
        DoubleType).contains(k) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<k: int|bigint|string|double, " +
        s"v: double>>, got ${child.dataType.catalogString}")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    graft.ext.TextAnalysis.sortedFoldKV(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], kKind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kk = kKind
    val arr = child.genCode(ctx)
    val res = ctx.freshName("sortedFoldRes")
    ev.copy(code =
      code"""
        ${arr.code}
        boolean ${ev.isNull} = true;
        double ${ev.value} = 0.0;
        if (!${arr.isNull}) {
          java.lang.Double $res =
            graft.ext.TextAnalysis.sortedFoldKV(${arr.value}, $kk);
          if ($res != null) {
            ${ev.isNull} = false;
            ${ev.value} = $res.doubleValue();
          }
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedFold =
    copy(child = newChild)
}

/** `graft_pq_argmin(sub, sv, codes, cvs, cvvs) -> bigint`: the PQ code
  * assignment argmin as ONE compiled per-row loop over literal codebooks —
  * replacing the broadcast-join row blowup (k candidate rows per subvector)
  * plus a min_by aggregation whose struct/array buffers are barred from
  * HashAggregate (they fall to object/sort aggregation). Bit-identical to
  * that formulation: same `cvv - 2*graft_dot(sv, cv)` score, same
  * (pd, code) lexicographic tie-break (see [[PqBooksLit.argmin]]). The
  * codebook arguments must be foldable array literals; the builder folds
  * them into a [[PqBooksLit]] at plan time.
  */
case class PqArgmin(left: Expression, right: Expression, books: PqBooksLit)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_argmin"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.IntegerType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (int sub, array<double> sv), got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
    }

  override protected def nullSafeEval(sub: Any, sv: Any): Any =
    books.argmin(sub.asInstanceOf[Int],
      sv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", books, classOf[PqBooksLit].getName)
    defineCodeGen(ctx, ev, (s, v) => s"$ref.argmin($s, $v)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgmin =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  private def unary(name: String)(build: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(child) => build(child)
    case children =>
      throw new IllegalArgumentException(
        s"$name expects exactly 1 argument, got ${children.length}")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_fnv64"),
      new ExpressionInfo(classOf[Fnv1a64].getName, "graft_fnv64"),
      unary("graft_fnv64")(Fnv1a64)),
    (FunctionIdentifier("graft_nfc_clean"),
      new ExpressionInfo(classOf[NfcClean].getName, "graft_nfc_clean"),
      unary("graft_nfc_clean")(NfcClean)),
    (FunctionIdentifier("graft_clz64"),
      new ExpressionInfo(classOf[Clz64].getName, "graft_clz64"),
      unary("graft_clz64")(Clz64)),
    (FunctionIdentifier("graft_wkb_geojson"),
      new ExpressionInfo(classOf[WkbGeoJson].getName, "graft_wkb_geojson"),
      unary("graft_wkb_geojson")(WkbGeoJson)),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow"),
      {
        case Seq(a, b, c) => WinnowFingerprints(a, b, c)
        case children =>
          throw new IllegalArgumentException(
            s"graft_winnow expects exactly 3 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "graft_simhash64"),
      unary("graft_simhash64")(Simhash64)),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash"),
      {
        case Seq(a, b) => MinhashSig(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_minhash expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      {
        case Seq(a, b) => DotProduct(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_dot expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_mix64"),
      new ExpressionInfo(classOf[Mix64].getName, "graft_mix64"),
      {
        case Seq(a, b) => Mix64(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_mix64 expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_shingle_minhash"),
      new ExpressionInfo(classOf[ShingleMinhash].getName, "graft_shingle_minhash"),
      {
        case Seq(a, b, c) => ShingleMinhash(a, b, c)
        case children =>
          throw new IllegalArgumentException(
            s"graft_shingle_minhash expects exactly 3 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_shingle_simhash64"),
      new ExpressionInfo(classOf[ShingleSimhash64].getName, "graft_shingle_simhash64"),
      {
        case Seq(a, b) => ShingleSimhash64(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_shingle_simhash64 expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeApply].getName, "graft_bpe"),
      {
        case Seq(a, b) => BpeApply(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_bpe expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderValue].getName, "graft_zorder"),
      {
        case Seq(a, b) => ZOrderValue(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_zorder expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_testdecoding_images"),
      new ExpressionInfo(classOf[TestDecodingImages].getName, "graft_testdecoding_images"),
      {
        case Seq(a, b) => TestDecodingImages(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_testdecoding_images expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_testdecoding_header"),
      new ExpressionInfo(classOf[TestDecodingHeaderParse].getName, "graft_testdecoding_header"),
      unary("graft_testdecoding_header")(TestDecodingHeaderParse)),
    (FunctionIdentifier("graft_gtid_contains"),
      new ExpressionInfo(classOf[GtidContains].getName, "graft_gtid_contains"),
      {
        case Seq(a, b) => GtidContains(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_gtid_contains expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_bigrams"),
      new ExpressionInfo(classOf[Bigrams].getName, "graft_bigrams"),
      unary("graft_bigrams")(Bigrams)),
    (FunctionIdentifier("graft_jl_project"),
      new ExpressionInfo(classOf[JlProject].getName, "graft_jl_project"),
      {
        case Seq(a, b, c) => JlProject(a, b, c)
        case children =>
          throw new IllegalArgumentException(
            s"graft_jl_project expects exactly 3 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NgramSpans].getName, "graft_ngrams"),
      {
        case Seq(a, b) => NgramSpans(a, b)
        case children =>
          throw new IllegalArgumentException(
            s"graft_ngrams expects exactly 2 arguments, got ${children.length}")
      }),
    (FunctionIdentifier("graft_sorted_fold"),
      new ExpressionInfo(classOf[SortedFold].getName, "graft_sorted_fold"),
      unary("graft_sorted_fold")(SortedFold)),
    (FunctionIdentifier("graft_pq_argmin"),
      new ExpressionInfo(classOf[PqArgmin].getName, "graft_pq_argmin"),
      {
        case Seq(sub, sv, codes, cvs, cvvs)
            if codes.foldable && cvs.foldable && cvvs.foldable =>
          def arr(e: Expression): org.apache.spark.sql.catalyst.util.ArrayData =
            e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          PqArgmin(sub, sv,
            PqBooksLit(arr(codes).toLongArray(), arr(cvs).toDoubleArray(),
              arr(cvvs).toDoubleArray()))
        case children =>
          throw new IllegalArgumentException(
            "graft_pq_argmin expects (sub, sv, foldable codes, foldable cvs, " +
              s"foldable cvvs), got ${children.length} arguments")
      })
  )

  /** Idempotently register the native functions on a live session. */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
