package graft.cdc.model

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase
import RowImage._
import RowImageFuzzSpec.typeGen

/** Schema-fuzz round trip of the generic envelope path: RANDOM declared
  * table shapes (2-6 fields drawn from the whole converter ladder, 1-2 pk
  * columns) with random data (including nulls in value fields and
  * JSON-hostile strings) must survive encodeImage -> JSON wire ->
  * decodeEnvelope bit-for-bit — key struct included, before-images for
  * deletes included. This is the property the per-shape specs (lineitem,
  * orders, the scalar fixture) each witness once, quantified over shapes.
  */
class RowImageFuzzSpec extends SparkTestBase {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(12)
    .withMaxSize(40)

  /** Finite, JSON-representable values per declared type. */
  private def valGen(dt: DataType): Gen[Any] = dt match {
    case LongType    => Gen.chooseNum(-(1L << 53), 1L << 53)
    case IntegerType => Gen.chooseNum(Int.MinValue, Int.MaxValue)
    case DoubleType  => Gen.chooseNum(-1e12, 1e12) // finite: JSON has no NaN/Inf
    case BooleanType => Gen.oneOf(true, false)
    case StringType  => Gen.listOf(Gen.oneOf(
        Gen.alphaNumChar, Gen.oneOf('"', '\\', '\n', '\t', ' ', 'é', '中', '/')))
      .map(_.mkString)
    case BinaryType  => Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)
    case DateType    => Gen.chooseNum(-30000L, 30000L)
      .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
    case TimestampType => Gen.chooseNum(-4000000000000000L, 4000000000000000L)
      .map { micros =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
      }
    case d: DecimalType =>
      // unscaled value capped at the declared precision (and at long range)
      val digits = math.min(d.precision, 17)
      val bound = math.pow(10, digits).toLong - 1
      Gen.chooseNum(-bound, bound)
        .map(u => new java.math.BigDecimal(java.math.BigInteger.valueOf(u), d.scale))
    case other => throw new IllegalArgumentException(s"no generator for $other")
  }

  private case class Shape(table: DeclaredTable)

  private val shapeGen: Gen[Shape] = for {
    n <- Gen.choose(2, 6)
    types <- Gen.listOfN(n, typeGen)
    pkN <- Gen.choose(1, math.min(2, n))
  } yield {
    val fields = types.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) }
    Shape(DeclaredTable("fuzz", StructType(fields), fields.take(pkN).map(_.name)))
  }

  private def rowsGen(s: Shape): Gen[List[Row]] = {
    val t = s.table
    def fieldGen(f: StructField): Gen[Any] =
      if (t.pkCols.contains(f.name)) valGen(f.dataType)
      else Gen.frequency(5 -> valGen(f.dataType), 1 -> Gen.const(null))
    val rowGen = Gen.sequence[List[Any], Any](
      t.schema.fields.toList.map(fieldGen)).map(vs => Row.fromSeq(vs))
    for {
      k <- Gen.choose(5, 25)
      rows <- Gen.listOfN(k, rowGen)
    } yield rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
  }

  private def valueEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }

  test("random declared shapes round-trip encode -> wire JSON -> decode exactly") {
    val prop = Prop.forAllNoShrink(shapeGen.flatMap(s => rowsGen(s).map(s -> _))) {
      case (shape, rows) =>
        val t = shape.table
        val fullSchema = StructType(StructField("offset", LongType) +: t.schema.fields)
        val df = spark.createDataFrame(rows.asJava, fullSchema)
        val img = struct(t.schema.fieldNames.toSeq.map(col): _*)
        val env = df.select(
          col("offset"),
          expr("element_at(array('c','u','d'), cast(offset % 3 as int) + 1)").as("op"),
          lit(0L).as("ts_ms"),
          when(expr("offset % 3 > 0"), encodeImage(img, t)).as("before"),
          when(expr("offset % 3 < 2"), encodeImage(img, t)).as("after"))
        val ir = decodeEnvelope(env, t)

        val expect = rows.map(r => r.getLong(0) -> r).toMap
        val got = ir.collect()
        got.length == rows.length && got.forall { r =>
          val off = r.getAs[Long]("offset")
          val orig = expect(off)
          val isDelete = off % 3 == 2
          val image = r.getAs[Row](if (isDelete) "before" else "after")
          val key = r.getAs[Row]("key")
          val imageOk = t.schema.fieldNames.zipWithIndex.forall { case (f, i) =>
            valueEq(image.get(i), orig.get(1 + i))
          }
          val keyOk = t.pkCols.zipWithIndex.forall { case (pk, i) =>
            valueEq(key.get(i), orig.get(1 + t.schema.fieldIndex(pk)))
          }
          // the opposite-side image must be null where the op says so
          val absentOk = (off % 3 != 0 || r.isNullAt(r.fieldIndex("before"))) &&
            (off % 3 != 2 || r.isNullAt(r.fieldIndex("after")))
          imageOk && keyOk && absentOk
        }
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }
}

object RowImageFuzzSpec {

  /** Declared field types across the whole converter ladder. */
  val typeGen: Gen[DataType] = Gen.oneOf(
    Gen.const(LongType), Gen.const(IntegerType), Gen.const(DoubleType),
    Gen.const(BooleanType), Gen.const(StringType), Gen.const(BinaryType),
    Gen.const(DateType), Gen.const(TimestampType),
    for {
      p <- Gen.choose(5, 20)
      s <- Gen.choose(0, 6)
    } yield DecimalType(p, math.min(s, p - 1)))
}
