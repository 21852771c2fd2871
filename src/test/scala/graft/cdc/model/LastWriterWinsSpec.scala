package graft.cdc.model

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkTestBase
import graft.cdc.merge.Skew
import RowImage._

/** The one last-writer-wins order, over generated changelogs: every merge
  * form picks each key's winner as the greatest `(offset, op, image)`, a
  * null offset never winning, whatever the delivery order, the
  * partitioning or the salting. Each changelog carries exact-duplicate
  * redeliveries, out-of-order arrival, a delete and an insert at one
  * offset, two images tied on offset and op, null values, null offsets and
  * a hot key, spread over partitions some of which hold one row or none.
  */
class LastWriterWinsSpec extends SparkTestBase {

  private val oneKey = DeclaredTable("one_key",
    StructType(Seq(StructField("a", LongType), StructField("v", StringType),
      StructField("n", LongType))), Seq("a"))
  private val twoKey = DeclaredTable("two_key",
    StructType(Seq(StructField("a", LongType), StructField("b", LongType),
      StructField("v", StringType), StructField("n", LongType))), Seq("a", "b"))

  /** One change frame; `None` is a null offset or value. Deletes carry no
    * after image, so their values are ignored.
    */
  private case class Ev(key: Seq[Long], offset: Option[Long], op: String,
      v: Option[String], n: Option[Long]) {
    def image: Option[(Option[String], Option[Long])] =
      if (op == Changelog.OpDelete) None else Some((v, n))
  }

  private case class Sample(table: DeclaredTable, events: Seq[Ev], slices: Int, buckets: Int)

  private val sampleGen: Gen[Sample] = for {
    table <- Gen.oneOf(oneKey, twoKey)
    pk = table.pkCols.size
    // key 0 is hot: it takes about half the frames
    keyGen = Gen.frequency(1 -> Gen.const(Seq.fill(pk)(0L)),
      1 -> Gen.listOfN(pk, Gen.choose(0L, 3L)))
    evGen = for {
      key <- keyGen
      offset <- Gen.frequency(9 -> Gen.choose(0L, 6L).map(Option(_)), 1 -> Gen.const(None))
      op <- Gen.oneOf(Changelog.OpInsert, Changelog.OpUpdate, Changelog.OpDelete, Changelog.OpRead)
      // "9" sorts after "17": a string image must not rank like a number
      v <- Gen.option(Gen.oneOf("9", "17", "x"))
      n <- Gen.option(Gen.choose(-2L, 2L))
    } yield Ev(key, offset, op, v, n)
    base <- Gen.listOf(evGen)
    redelivered <- Gen.someOf(base)
    k1 <- keyGen
    o1 <- Gen.choose(0L, 6L)
    k2 <- keyGen
    o2 <- Gen.choose(0L, 6L)
    seed <- Gen.long
    all = new scala.util.Random(seed).shuffle(base ++ redelivered ++ Seq(
      Ev(k1, Some(o1), Changelog.OpDelete, None, None),
      Ev(k1, Some(o1), Changelog.OpInsert, Some("x"), Some(1L)),
      Ev(k2, Some(o2), Changelog.OpUpdate, Some("17"), Some(2L)),
      Ev(k2, Some(o2), Changelog.OpUpdate, Some("9"), None)))
    slices <- Gen.choose(1, all.size + 4)
    buckets <- Gen.choose(1, 8)
  } yield Sample(table, all, slices, buckets)

  /** The rule replayed over Scala collections: per key, the greatest
    * (offset, op, image) among frames with an offset; deletes dropped.
    */
  private def replay(events: Seq[Ev]): Set[Seq[Any]] =
    events.filter(_.offset.isDefined).groupBy(_.key).flatMap { case (key, es) =>
      val w = es.maxBy(e => (e.offset.get, e.op, e.image))
      if (w.op == Changelog.OpDelete) None
      else Some(key ++ Seq(w.offset.get, w.v.orNull, w.n.map(Long.box).orNull))
    }.toSet

  private def set(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def irOf(s: Sample): DataFrame = {
    val t = s.table
    val schema = StructType(Seq(StructField("offset", LongType),
      StructField("op", StringType), StructField("key", t.keyType),
      StructField("after", t.schema)))
    val rows = s.events.map { e =>
      Row(e.offset.map(Long.box).orNull, e.op, Row(e.key: _*),
        e.image.map(_ => Row(e.key ++ Seq(e.v.orNull, e.n.map(Long.box).orNull): _*)).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, s.slices), schema)
  }

  /** The IR's frames on the wire: deletes carry a before image holding
    * the key.
    */
  private def envelopeOf(ir: DataFrame, t: DeclaredTable): DataFrame = {
    val keyImage = struct(t.schema.fields.toIndexedSeq.map { f =>
      if (t.pkCols.contains(f.name)) col("key").getField(f.name).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    ir.select(col("offset"), col("op"), lit(0L).as("ts_ms"),
      when(col("op") === Changelog.OpDelete, encodeImage(keyImage, t)).as("before"),
      encodeImage(col("after"), t).as("after"))
  }

  test("property: every merge form agrees with a collection replay of (offset, op, image)") {
    val prop = Prop.forAllNoShrink(sampleGen) { s =>
      val t = s.table
      val ir = irOf(s)
      val env = envelopeOf(ir, t)
      val expected = replay(s.events)
      val forms = Map(
        "unsalted" -> upsertMaterialize(ir, t),
        s"salted(${s.buckets})" -> upsertMaterializeEnvelopeSalted(env, t, s.buckets),
        "envelope" -> upsertMaterializeEnvelope(env, t))
      val wrong = forms.collect { case (name, df) if set(df) != expected => name }
      Prop(wrong.isEmpty) :| s"forms diverging from the replay: ${wrong.mkString(", ")}"
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40).withMaxSize(20), prop)
    assert(r.passed, r.status.toString)
  }

  test("property: the scalar merges equal the generic merge over asRowImage") {
    val scalarGen = sampleGen.suchThat(_.table == oneKey)
    val prop = Prop.forAllNoShrink(scalarGen) { s =>
      val schema = StructType(Seq(StructField("offset", LongType),
        StructField("pk", LongType), StructField("op", StringType),
        StructField("val", DoubleType)))
      val rows = s.events.map(e => Row(e.offset.map(Long.box).orNull, e.key.head, e.op,
        e.n.map(x => Double.box(x.toDouble)).orNull))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, s.slices), schema)
      val (snapshot, changes) = (df.where(col("op") === Changelog.OpRead),
        df.where(col("op") =!= Changelog.OpRead))
      def out(m: DataFrame) = set(m.select(col("pk"), col("last_offset"), col("val")))
      val generic = out(RowImage.upsertMaterialize(
        Changelog.asRowImage(df, col("val")), Changelog.scalarTable))
      generic == out(Changelog.upsertMaterialize(snapshot, changes)) &&
        generic == out(Skew.saltedUpsertMaterialize(snapshot, changes, s.buckets))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20).withMaxSize(20), prop)
    assert(r.passed, r.status.toString)
  }
}
