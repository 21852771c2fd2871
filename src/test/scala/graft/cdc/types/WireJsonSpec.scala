package graft.cdc.types

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase
import graft.cdc.model.RowImage
import graft.cdc.model.RowImageFuzzSpec.typeGen

/** The wire-JSON parse kernel ([[WireJsonParse]]) must return exactly what
  * `from_json` returns, nulls included, for any wire schema and any input
  * text: valid images, missing and extra fields, explicit nulls,
  * type-mismatched values, truncated and malformed JSON, the empty string,
  * top-level arrays and scalars, non-ASCII text and invalid UTF-8 (bytes
  * cast to a string, as a Kafka value is).
  */
class WireJsonSpec extends SparkTestBase {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(30)
    .withMaxSize(20)

  /** A wire field type: the wire form of a declared ladder type, or a
    * nested ROW / ARRAY / MAP of them (depth-limited).
    */
  private def wireTypeGen(depth: Int): Gen[DataType] = {
    val leaf = typeGen.map(RowImage.wireType)
    if (depth == 0) leaf
    else Gen.frequency(
      6 -> leaf,
      1 -> structGen(depth - 1),
      1 -> wireTypeGen(depth - 1).map(ArrayType(_, containsNull = true)),
      1 -> wireTypeGen(depth - 1).map(MapType(StringType, _, valueContainsNull = true)))
  }

  private def structGen(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(1, 5)
    types <- Gen.listOfN(n, wireTypeGen(depth))
  } yield StructType(types.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) })

  /** Top-level schema: mostly an image struct, sometimes a map. */
  private val schemaGen: Gen[DataType] = Gen.frequency(
    8 -> structGen(2),
    1 -> wireTypeGen(1).map(MapType(StringType, _, valueContainsNull = true)))

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    1 -> Gen.oneOf('"', '\\', '\n', '\t', ' ', '/', '\u0001'),
    2 -> Gen.oneOf('é', '中', 'ß', ' ', '\uD83D', '\uDE00'))).map(_.mkString)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private val numberGen: Gen[String] = Gen.oneOf(
    Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.chooseNum(-1e12, 1e12).map(_.toString),
    Gen.oneOf("0", "-0", "1e5", "1E-7", "1.0", "12345678901234567890123", "NaN", "-Infinity"))

  /** Any JSON value, unrelated to the schema. */
  private def anyJsonGen(depth: Int): Gen[String] = {
    val scalar = Gen.oneOf(numberGen, textGen.map(quote), Gen.oneOf("true", "false", "null"))
    if (depth == 0) scalar
    else Gen.frequency(
      4 -> scalar,
      1 -> Gen.listOf(anyJsonGen(depth - 1)).map(_.take(3).mkString("[", ",", "]")),
      1 -> Gen.listOf(Gen.zip(textGen, anyJsonGen(depth - 1))).map(kvs =>
        kvs.take(3).map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")))
  }

  /** A value for a wire type: mostly valid, sometimes null or mismatched. */
  private def valueGen(dt: DataType): Gen[String] = {
    val valid: Gen[String] = dt match {
      case IntegerType | LongType | DoubleType => numberGen
      case BooleanType => Gen.oneOf("true", "false")
      case StringType => textGen.map(quote)
      case st: StructType => objectGen(st)
      case ArrayType(et, _) => Gen.listOf(valueGen(et)).map(_.take(4).mkString("[", ",", "]"))
      case MapType(_, vt, _) => Gen.listOf(Gen.zip(textGen, valueGen(vt))).map(kvs =>
        kvs.take(4).map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}"))
      case other => throw new IllegalArgumentException(s"no wire generator for $other")
    }
    Gen.frequency(8 -> valid, 1 -> Gen.const("null"), 1 -> anyJsonGen(1))
  }

  /** An object for a struct: fields dropped, extra fields added, in any order. */
  private def objectGen(st: StructType): Gen[String] = for {
    present <- Gen.sequence[List[Option[String]], Option[String]](st.fields.toList.map { f =>
      Gen.frequency(5 -> valueGen(f.dataType).map(v => Some(s"${quote(f.name)}:$v")),
        1 -> Gen.const(None))
    })
    extra <- Gen.listOf(Gen.zip(textGen, anyJsonGen(1))).map(_.take(2))
    order <- Gen.oneOf(true, false)
  } yield {
    val fields = present.flatten ++ extra.map { case (k, v) => s"${quote(k)}:$v" }
    (if (order) fields else fields.reverse).mkString("{", ",", "}")
  }

  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0xff), Array(0xc3), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80),
    Array(0xf5, 0x80, 0x80, 0x80), Array(0xe2, 0x82), Array(0x80)
  ).map(_.map(_.toByte))

  /** Input bytes for a schema, across the whole range of shapes. */
  private def inputGen(schema: DataType): Gen[Array[Byte]] = {
    val image = valueGen(schema)
    val text: Gen[String] = Gen.frequency(
      6 -> image,
      1 -> Gen.zip(image, Gen.choose(0.0, 1.0)).map { case (s, f) => s.take((s.length * f).toInt) },
      1 -> Gen.oneOf("", " ", "{", "}", "{]", "[", "{\"f0\":}", "{\"f0\" 1}", "{'f0':1}", "{} {}",
        "{\"f0\":1} trailing", "nul", "\u0000"),
      1 -> Gen.listOf(image).map(_.take(3).mkString("[", ",", "]")),
      1 -> anyJsonGen(0))
    Gen.frequency(
      8 -> text.map(_.getBytes(UTF_8)),
      2 -> Gen.zip(image, Gen.oneOf(invalidUtf8), Gen.choose(0.0, 1.0)).map { case (s, bad, f) =>
        val b = s.getBytes(UTF_8)
        val at = (b.length * f).toInt
        b.take(at) ++ bad ++ b.drop(at)
      })
  }

  private val sampleGen: Gen[(DataType, List[Array[Byte]])] = for {
    schema <- schemaGen
    n <- Gen.choose(10, 30)
    inputs <- Gen.listOfN(n, inputGen(schema))
  } yield (schema, inputs)

  /** Exact text of a collected value; a map's entries in key order, and
    * NaN equal to NaN (collected maps and seqs compare doubles with `==`).
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => s"${other.getClass.getSimpleName}:$other"
  }

  /** Rows as an RDD-backed frame: over a local relation the optimizer
    * would evaluate the projection itself, and no executor would.
    */
  private def frame(rows: Seq[Row], field: StructField) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(field)))

  private def agrees(schema: DataType, inputs: List[Array[Byte]]): Prop = {
    val df = frame(inputs.map(b => Row(b)) :+ Row(null), StructField("b", BinaryType))
    val json = col("b").cast(StringType)
    val got = df.select(from_json(json, schema).as("spark"),
      WireJsonParse(json, schema).as("kernel")).collect()
    val diffs = got.zipWithIndex.filter { case (r, _) => canon(r.get(0)) != canon(r.get(1)) }
    Prop(diffs.isEmpty) :| diffs.take(3).map { case (r, i) =>
      val in = if (i < inputs.length) new String(inputs(i), UTF_8) else "null"
      s"$schema on [$in]: from_json=${r.get(0)} kernel=${r.get(1)}"
    }.mkString("\n")
  }

  test("property: the kernel returns what from_json returns, nulls included") {
    val r = SCTest.check(params, Prop.forAllNoShrink(sampleGen) { case (s, in) => agrees(s, in) })
    assert(r.passed, r.status.toString)
  }

  test("two field reads share one full-schema parse: no per-field split") {
    val ws = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val df = frame(Seq(Row("""{"a":1,"b":"x"}""")), StructField("j", StringType))
      .select(WireJsonParse(col("j"), ws).getField("a").as("a"),
        WireJsonParse(col("j"), ws).getField("b").as("b"))
    assert(df.collect().toSeq == Seq(Row(1L, "x")))
    // both reads keep the one two-field parse that common-subexpression
    // elimination shares (OptimizeJsonExprs would narrow a from_json here
    // into one single-field parse per read)
    val parses = df.queryExecution.executedPlan.expressions.flatMap(_.collect {
      case p: WireJsonParse => p
    })
    assert(parses.size == 2 && parses.forall(_.schema == ws) &&
      parses.map(_.canonicalized).distinct.size == 1, parses)
  }
}
