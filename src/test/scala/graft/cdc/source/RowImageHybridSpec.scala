package graft.cdc.source

import graft.SparkTestBase
import graft.cdc.model.{RowImage, RowImageQueries}
import graft.cdc.model.RowImage.DeclaredTable
import graft.tools.PlanAudit.collectAll
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The generic hybrid flow must reproduce the direct merge EXACTLY for any
  * chunk plan whose ranges partition the key space — across staggered
  * watermark interleavings, backfill-skip chunks, and watermarks placed
  * before/after all data (the scalar analog is HybridPipelineSpec) — and
  * must do it in one read of its input and one shuffle.
  */
class RowImageHybridSpec extends SparkTestBase {

  private val t = RowImageQueries.lineitemTable

  private def k(p: Long, sk: Long): Column =
    struct(lit(p).as("l_partkey"), lit(sk).as("l_suppkey")).cast(t.keyType)

  // singleton offsets only: sf0.001 has one tied row identity whose winner
  // is nondeterministic on both sides
  private lazy val ir = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("offset"))
    RowImage.decodeEnvelope(
        RowImageQueries.envelope(spark, sfDir)
          .withColumn("_n", count(lit(1)).over(w)).where(col("_n") === 1).drop("_n"),
        t)
      .localCheckpoint()
  }

  private def norm(df: org.apache.spark.sql.DataFrame) =
    df.select(col("l_partkey"), col("l_suppkey"), col("last_offset"),
      col("l_quantity").cast(StringType), col("l_extendedprice").cast(StringType),
      col("l_shipdate").cast(StringType), col("l_shipts").cast(StringType),
      col("l_returnflag"), hex(col("l_flagbin"))).collect().toSet

  test("hybrid == direct merge across chunk plans and watermark interleavings") {
    val direct = norm(RowImage.upsertMaterialize(ir, t))
    val lo = 800L // orderkey 100 * 8 on the offset layout
    val plans: Seq[RowImageHybrid.ChunkPlan] = Seq(
      // staggered brackets per chunk
      Seq((None, Some(k(500, 50)), lo, 3 * lo),
        (Some(k(500, 50)), Some(k(1500, 25)), 5 * lo, 8 * lo),
        (Some(k(1500, 25)), None, 10 * lo, 12 * lo)),
      // middle chunk backfill-skip; outer watermarks at extremes
      Seq((None, Some(k(500, 50)), 0L, 0L),
        (Some(k(500, 50)), Some(k(1500, 25)), 6 * lo, 6 * lo),
        (Some(k(1500, 25)), None, Long.MaxValue / 2, Long.MaxValue / 2)),
      // one unbounded chunk (degenerate single-split plan)
      Seq((None, None, 7 * lo, 9 * lo)))
    plans.zipWithIndex.foreach { case (plan, i) =>
      assert(norm(RowImageHybrid.materialize(ir, t, plan)) == direct,
        s"plan $i diverged from the direct merge")
    }
  }

  test("planner-generated composite boundaries drive the hybrid (full loop)") {
    // the 100 TB path: sampled composite-key boundaries from the keyed
    // planner -> hybrid chunk plan -> result equals the direct merge
    val keys = ir.select(col("key.l_partkey").as("l_partkey"),
      col("key.l_suppkey").as("l_suppkey"))
    val ranges = graft.cdc.split.KeyedChunkPlanner.sampledChunkRanges(
      keys, Seq("l_partkey", "l_suppkey"), n = 4, fraction = 0.5)
    assert(ranges.length == 4)
    val lo = 800L
    val plan = RowImageHybrid.planFromBoundaries(t, ranges,
      i => (lo * (i + 1), lo * (i + 3))) // staggered brackets per chunk
    assert(norm(RowImageHybrid.materialize(ir, t, plan)) ==
      norm(RowImage.upsertMaterialize(ir, t)))
  }

  test("one exchange and one scan for 1-, 3- and 8-chunk plans") {
    Seq(1, 3, 8).foreach { n =>
      val cuts = (1 until n).map(i => Seq[Any](i * 2000L / n, 0L))
      val ranges = (None +: cuts.map(Option(_))).zip(cuts.map(Option(_)) :+ None)
      val plan = RowImageHybrid.planFromBoundaries(t, ranges, i => (800L * i, 800L * (i + 1)))
      val df = RowImageHybrid.materialize(ir, t, plan)
      df.collect() // finalizes AQE, so the walk sees the stages that ran
      val exec = df.queryExecution.executedPlan
      val shuffles = collectAll(exec) { case e: ShuffleExchangeLike => e }
      val scans = collectAll(exec) { case s if s.nodeName.contains("Scan") => s }
      assert(shuffles.size == 1 && scans.size == 1, s"$n chunks:\n$exec")
    }
  }

  // --- generated changelogs ----------------------------------------------

  private val oneKey = DeclaredTable("one_key",
    StructType(Seq(StructField("a", LongType), StructField("v", StringType))), Seq("a"))
  private val twoKey = DeclaredTable("two_key",
    StructType(Seq(StructField("a", LongType), StructField("b", LongType),
      StructField("v", StringType))), Seq("a", "b"))

  private val keyOrder: Ordering[Seq[Long]] =
    Ordering.fromLessThan { (x, y) =>
      val d = x.zip(y).map { case (p, q) => java.lang.Long.compare(p, q) }.find(_ != 0)
      d.exists(_ < 0)
    }

  /** A generic-IR changelog, its table and a chunk plan. */
  private case class Sample(
      table: DeclaredTable,
      rows: Seq[Row],
      ranges: Seq[(Option[Seq[Any]], Option[Seq[Any]])],
      watermarks: Seq[(Long, Long)])

  /** Up to 4 chunks cut at keys of a small key space; events at unique
    * offsets 10·i (some with a null offset, some with a null value), one
    * per boundary key at least; each chunk's high watermark 10·p + 5 with
    * p in [-1, m] (before all data, after all data, or between, so across
    * chunks they are non-monotone). One key k, in chunk c with high
    * watermark h, is inserted at h - 1 and deleted at h, so the delete wins
    * c's snapshot phase; half the samples re-insert k in the log phase at
    * h + 1. Those three offsets are not multiples of 10, so offsets stay
    * unique.
    */
  private val sampleGen: Gen[Sample] = for {
    table <- Gen.oneOf(oneKey, twoKey)
    keyGen = Gen.listOfN(table.pkCols.size, Gen.choose(0L, 5L))
    cutKeys <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, keyGen))
    bounds = cutKeys.distinct.sorted(keyOrder)
    events <- Gen.listOf(for {
      key <- keyGen
      op <- Gen.oneOf("c", "u", "d", "r")
      v <- Gen.option(Gen.alphaLowerStr.map(_.take(3)))
      nullOffset <- Gen.frequency(9 -> false, 1 -> true)
    } yield (key, op, v, nullOffset))
    boundaryOps <- Gen.listOfN(bounds.size, Gen.oneOf("c", "u", "d", "r"))
    order <- Gen.long
    all = new scala.util.Random(order).shuffle(
      events ++ bounds.zip(boundaryOps).map { case (k, op) => (k, op, Some("b"), false) })
    m = all.size
    highs <- Gen.listOfN(bounds.size + 1,
      Gen.frequency(1 -> Gen.const(-1), 1 -> Gen.const(m), 3 -> Gen.choose(0, m)))
    lowBacks <- Gen.listOfN(bounds.size + 1, Gen.choose(0L, 30L))
    k <- if (bounds.isEmpty) keyGen else Gen.oneOf(Gen.oneOf(bounds), keyGen)
    reinsert <- Gen.oneOf(true, false)
  } yield {
    val hwms = highs.map(p => 10L * p + 5)
    val h = hwms(bounds.count(b => !keyOrder.lt(k, b)))
    def row(offset: java.lang.Long, key: Seq[Long], op: String, v: Option[String]): Row =
      Row(offset, op, Row(key: _*),
        if (op == "d") null else Row(key ++ Seq(v.orNull): _*))
    val random = all.zipWithIndex.map { case ((key, op, v, nullOffset), i) =>
      row(if (nullOffset) null else java.lang.Long.valueOf(10L * i), key, op, v)
    }
    val scenario = Seq(row(h - 1, k, "c", Some("pre")), row(h, k, "d", None)) ++
      (if (reinsert) Seq(row(h + 1, k, "c", Some("re"))) else Nil)
    Sample(table, random ++ scenario,
      (None +: bounds.map(Option(_))).zip(bounds.map(Option(_)) :+ None),
      hwms.zip(lowBacks).map { case (hi, back) => (hi - back, hi) })
  }

  test("property: hybrid == direct merge over generated changelogs") {
    val prop = Prop.forAll(sampleGen) { s =>
      val schema = StructType(Seq(StructField("offset", LongType), StructField("op", StringType),
        StructField("key", s.table.keyType), StructField("after", s.table.schema)))
      val rows = spark.createDataFrame(java.util.Arrays.asList(s.rows: _*), schema)
      val plan = RowImageHybrid.planFromBoundaries(s.table, s.ranges, s.watermarks)
      def set(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
      set(RowImageHybrid.materialize(rows, s.table, plan)) ==
        set(RowImage.upsertMaterialize(rows, s.table))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(r.passed, r.status.toString)
  }
}
