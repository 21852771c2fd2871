package graft.cdc.model

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.cdc.model.RowImage._
import graft.cdc.source.RowImageHybrid
import graft.cdc.types.WireJsonParse
import graft.tools.PlanAudit.collectAll

/** The shape and key semantics of [[RowImage.decodeEnvelope]]: each image
  * is parsed once, the key comes from the after parse with a key-schema
  * parse of before as the per-field fallback, so the merges that drop
  * `before` never parse a whole before image — and the decoded frames are
  * the same as ever.
  */
class DecodeEnvelopeSpec extends SparkTestBase {

  private val t = DeclaredTable("t", StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("v", StringType), StructField("amt", DecimalType(10, 2)))), Seq("a", "b"))

  private val envSchema = StructType(Seq(
    StructField("offset", LongType), StructField("op", StringType),
    StructField("ts_ms", LongType), StructField("before", StringType),
    StructField("after", StringType)))

  /** RDD-backed, so the optimizer cannot fold the decode into a local relation. */
  private def envelope(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), envSchema)

  private def img(a: Any, b: Any, v: String): String = {
    def j(x: Any): String = if (x == null) "null" else x.toString
    s"""{"a":${j(a)},"b":${j(b)},"v":"$v","amt":"1250"}"""
  }

  private lazy val log = envelope(
    Row(1L, "c", 0L, null, img(1, 1, "x")),
    Row(2L, "c", 0L, null, img(5, 2, "y")),
    Row(3L, "u", 0L, img(1, 1, "x"), img(1, 1, "x2")),
    Row(4L, "d", 0L, img(5, 2, "y"), null),
    Row(5L, "c", 0L, null, img(7, 3, "z")))

  /** Every parse in the plan that ran, with the envelope column it reads. */
  private def parses(df: DataFrame): Seq[(String, DataType)] = {
    df.collect() // finalizes AQE, so the walk sees the stages that ran
    val nodes = collectAll(df.queryExecution.executedPlan) { case p => p }
    nodes.flatMap(_.expressions.flatMap(_.collect {
      case w: WireJsonParse => w.child.collectFirst {
        case r: AttributeReference => r.name
      }.getOrElse("?") -> w.schema
    }))
  }

  test("the merges over decodeEnvelope parse no whole before image") {
    val full = wireSchema(t.schema)
    val key = wireSchema(t.keyType)
    val plan = RowImageHybrid.planFromBoundaries(t,
      Seq((None, Some(Seq(5L, 0L))), (Some(Seq(5L, 0L)), None)), i => (i.toLong, i + 2L))
    for ((name, df) <- Seq(
        "upsertMaterialize" -> upsertMaterialize(decodeEnvelope(log, t), t),
        "RowImageHybrid.materialize" -> RowImageHybrid.materialize(decodeEnvelope(log, t), t, plan))) {
      val ps = parses(df)
      assert(!ps.contains("before" -> full), s"$name parses the whole before image: $ps")
      assert(ps.contains("before" -> key), s"$name lost the key fallback: $ps")
      assert(ps.contains("after" -> full), s"$name: $ps")
    }
    // the state itself: key (1,1) updated, (5,2) deleted, (7,3) inserted
    assert(upsertMaterialize(decodeEnvelope(log, t), t)
      .select("a", "b", "last_offset", "v").collect().toSet ==
      Set(Row(1L, 1L, 3L, "x2"), Row(7L, 3L, 5L, "z")))
  }

  test("decodeEnvelope alone still returns both images, each parsed once") {
    val dec = decodeEnvelope(log, t)
    val ps = parses(dec)
    assert(ps.count(_ == ("before" -> wireSchema(t.schema))) == 1, ps)
    assert(ps.count(_ == ("after" -> wireSchema(t.schema))) == 1, ps)
    val byOffset = dec.collect().map(r => r.getLong(0) -> r).toMap
    def image(a: Long, b: Long, v: String) = Row(a, b, v, new java.math.BigDecimal("12.50"))
    val upd = byOffset(3L)
    assert(upd.getAs[Row]("before") == image(1, 1, "x"))
    assert(upd.getAs[Row]("after") == image(1, 1, "x2"))
    assert(upd.getAs[Row]("key") == Row(1L, 1L))
    val del = byOffset(4L)
    assert(del.getAs[Row]("before") == image(5, 2, "y") && del.isNullAt(del.fieldIndex("after")))
    assert(del.getAs[Row]("key") == Row(5L, 2L))
    val ins = byOffset(1L)
    assert(ins.isNullAt(ins.fieldIndex("before")) && ins.getAs[Row]("after") == image(1, 1, "x"))
  }

  test("a null pk field of after falls back to before's, field by field, overrides on both sides") {
    val shifted: ConverterOverrides = {
      case StructField("a", _, _, _) => (c: Column) => c + 100
    }
    val env = envelope(
      Row(1L, "u", 0L, img(1, 9, "p"), img(null, 2, "q")), // a from before, b from after
      Row(2L, "u", 0L, img(1, 9, "p"), """{"b":3,"v":"r"}"""), // a absent from after
      Row(3L, "u", 0L, img(1, null, "p"), img(4, null, "s")), // b null on both sides
      Row(4L, "u", 0L, img(1, 9, "p"), img(6, 7, "t")), // after wins both fields
      Row(5L, "d", 0L, img(8, 9, "p"), null), // delete: before only
      Row(6L, "c", 0L, null, img(null, 5, "u"))) // no before to fall back on
    val keys = (o: ConverterOverrides) => decodeEnvelope(env, t, o)
      .select(col("offset"), col("key")).collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(keys(NoOverrides) == Map(
      1L -> Row(1L, 2L), 2L -> Row(1L, 3L), 3L -> Row(4L, null), 4L -> Row(6L, 7L),
      5L -> Row(8L, 9L), 6L -> Row(null, 5L)))
    assert(keys(shifted) == Map(
      1L -> Row(101L, 2L), 2L -> Row(101L, 3L), 3L -> Row(104L, null), 4L -> Row(106L, 7L),
      5L -> Row(108L, 9L), 6L -> Row(null, 5L)))
    // the override reaches the images' pk fields too
    val after = decodeEnvelope(env, t, shifted).where(col("offset") === 4L)
      .select(col("after.a"), col("before.a")).head()
    assert(after == Row(106L, 101L))
  }
}
