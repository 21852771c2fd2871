package graft.cdc.split

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Values of [[DistributedRank]] against the window formulations it
  * replaces — `row_number() OVER (ORDER BY ...)` and `sum() OVER (ORDER BY
  * ... ROWS UNBOUNDED PRECEDING)`. PlanSpec guards the plan shape; this
  * spec guards the values: fixed adversarial cases, a generated property
  * over frame layouts and shuffle widths, and the loss of cached blocks.
  */
class DistributedRankSpec extends SparkTestBase {

  private def viaWindow(df: org.apache.spark.sql.DataFrame,
      order: Seq[org.apache.spark.sql.Column]) =
    df.withColumn("rn_w", row_number().over(Window.orderBy(order: _*)).cast("long"))

  test("withGlobalRowNumber equals row_number() over a global window (values, not plan)") {
    val s = spark
    import s.implicits._
    // adversarial fixture: duplicate keys (tie-broken by a second column),
    // skewed distribution, forced multi-partition input
    val df = (1 to 5000).map(i => (i % 977, i)).toDF("k", "tb").repartition(7)
    val order = Seq(col("k"), col("tb"))
    val got = DistributedRank.withGlobalRowNumber(df, "rn", order)
      .select($"k", $"tb", $"rn").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val want = viaWindow(df, order)
      .select($"k", $"tb", $"rn_w").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.size == 5000)
  }

  test("dedup = true ranks the distinct rows exactly like distinct + window") {
    val s = spark
    import s.implicits._
    val df = (1 to 4000).map(i => i % 613).toDF("k").repartition(5)
    val got = DistributedRank.withGlobalRowNumber(df, "rn", Seq(col("k")), dedup = true)
      .select($"k", $"rn").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val want = viaWindow(df.dropDuplicates(), Seq(col("k")))
      .select($"k", $"rn_w").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.size == 613)
  }

  test("ranks stay dense and unique on an already-sorted single-partition input") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).toDF("k").coalesce(1)
    val rns = DistributedRank.withGlobalRowNumber(df, "rn", Seq(col("k")))
      .select($"rn").collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to 100L))
  }

  test("ranks survive a downstream coalesce(1) write under forced AQE partition pressure") {
    // regression: when the per-partition bases and the rows each planned
    // their own range exchange, a downstream coalesce(1) (the Verify write
    // path) made their AQE partition merges diverge — at sf1 this corrupted
    // 185k of 299k ranks while every small-SF run passed (both sides
    // coalesced to one partition there). Force many surviving partitions
    // so the small repro exercises it.
    val s = spark
    import s.implicits._
    val adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    try {
      // heavy ts ties (the sf1 trigger shape) + unique tie-breaker
      val df = (1 to 60000).map(i => (i % 97, i.toLong)).toDF("ts", "off")
      val order = Seq(col("ts"), col("off"))
      val dir = java.nio.file.Files.createTempDirectory("rank_coalesce").toString
      DistributedRank.withGlobalRowNumber(df, "rn", order)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val got = spark.read.parquet(dir)
        .select($"ts", $"off", $"rn").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      val want = df.collect().map(r => (r.getInt(0), r.getLong(1))).sorted
        .zipWithIndex.map { case (k, i) => k -> (i + 1L) }.toMap
      assert(got.size == want.size)
      val bad = want.collect { case (k, rk) if got(k) != rk => (k, got(k), rk) }
      assert(bad.isEmpty, s"${bad.size} corrupted ranks, e.g. ${bad.take(3)}")
    } finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
  }

  test("withGlobalRunningSum equals sum() over a global window (values, not plan)") {
    val s = spark
    import s.implicits._
    // skewed values incl. zeros and negatives, forced multi-partition
    val df = (1 to 5000)
      .map(i => (i % 977, i, (i % 7 - 3).toLong * i)).toDF("k", "tb", "v")
      .repartition(7)
    val order = Seq(col("k"), col("tb"))
    val got = DistributedRank.withGlobalRunningSum(df, "cum", col("v"), order)
      .select($"k", $"tb", $"cum").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val want = df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"tb", $"cum").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.size == 5000)
    // last prefix == total
    assert(got.maxBy(t => (t._1, t._2))._3 ==
      df.agg(sum($"v")).collect()(0).getLong(0))
  }

  test("withGlobalRunningSum null semantics match the window sum (null until first non-null)") {
    val s = spark
    import s.implicits._
    // nulls at the FRONT of the order (the window sum stays null there) and
    // interleaved mid-stream (the running sum must hold, not reset)
    val df = (1 to 400)
      .map(i => (i, if (i <= 3 || i % 5 == 0) None else Some(i.toLong)))
      .toDF("tb", "v").repartition(3)
    val order = Seq(col("tb"))
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val got = pairs(DistributedRank
      .withGlobalRunningSum(df, "cum", col("v"), order)
      .select($"tb", $"cum").collect())
    val want = pairs(df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"tb", $"cum").collect())
    assert(got == want)
    // the leading all-null prefix is null, the first non-null row is not
    assert(got.contains((1, None)) && got.contains((3, None)))
    assert(got.exists { case (tb, v) => tb == 4 && v.contains(4L) })
  }

  test("withGlobalRunningSum carries the earlier partitions' sum into a partition that starts with nulls") {
    val s = spark
    import s.implicits._
    // a null run over the middle third: at 4 shuffle partitions the range
    // boundary near the median lands inside it whatever the sampling seed,
    // so a partition other than the first begins with nulls and its rows
    // must report the sum of everything before them, not null
    val n = 6000
    val df = (1 to n)
      .map(i => (i, if (i > n / 3 && i <= 2 * n / 3) None else Some(i.toLong)))
      .toDF("tb", "v").repartition(3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val order = Seq(col("tb"))
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val got = pairs(DistributedRank
      .withGlobalRunningSum(df, "cum", col("v"), order)
      .select($"tb", $"cum").collect())
    val want = pairs(df.withColumn("cum",
      sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"tb", $"cum").collect())
    val prefix = (1L to n / 3).sum
    assert(got.contains((n / 2, Some(prefix))))
    assert(got == want)
  }

  test("ranks and running sums recompute after every block cached by the call is lost") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // other suites' cached fixtures share the session: drop only the
    // blocks this call persisted
    val before = sc.getPersistentRDDs.keySet
    val n = 3000
    val df = (1 to n).map(i => (i % 101, i, i.toLong)).toDF("k", "tb", "v").repartition(3)
    val order = Seq(col("k"), col("tb"))
    val ranked = DistributedRank.withGlobalRowNumber(df, "rn", order)
    val summed = DistributedRank.withGlobalRunningSum(df, "cum", col("v"), order)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
    assert(ranked.agg(max($"rn")).head().getLong(0) == n)
    assert(summed.agg(max($"cum")).head().getLong(0) == (1L to n).sum)
  }

  /** One generated case: shuffle width, input slices, and rows (k, tb, v)
    * with duplicate keys `k`, a unique tie-breaker `tb`, and null runs laid
    * along the (k, tb) order, long enough to straddle range boundaries.
    * Tiny frames and many input slices leave partitions empty.
    */
  private val layouts = for {
    width <- Gen.choose(1, 8)
    slices <- Gen.choose(1, 6)
    n <- Gen.oneOf(Gen.choose(0, 3), Gen.choose(4, 600))
    keys <- Gen.choose(1, 30)
    ks <- Gen.listOfN(n, Gen.choose(0, keys))
    vs <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
    runs <- Gen.listOfN(n / 50 + 1, Gen.zip(Gen.choose(1, 200), Gen.prob(0.4)))
  } yield {
    val nulls = runs.flatMap { case (len, isNull) => Seq.fill(len)(isNull) }
    val sorted = ks.zipWithIndex.sorted
    val rows = sorted.zip(vs).zipWithIndex.map { case (((k, tb), v), i) =>
      (k, tb, if (nulls.lift(i).contains(true)) None else Some(v))
    }
    (width, slices, rows)
  }

  test("both entry points equal their windows for any layout and shuffle width") {
    val s = spark
    import s.implicits._
    val params = SCTest.Parameters.default.withMinSuccessfulTests(20).withWorkers(1)
    val prop = Prop.forAllNoShrink(layouts) { case (width, slices, rows) =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      try {
        val df = rows.toDF("k", "tb", "v").repartition(slices)
        val order = Seq(col("k"), col("tb"))
        val w = Window.orderBy(order: _*)
        def byTb(frame: org.apache.spark.sql.DataFrame, c: String) =
          frame.select($"tb", col(c)).collect()
            .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        val rn = byTb(DistributedRank.withGlobalRowNumber(df, "rn", order), "rn")
        val cum = byTb(DistributedRank.withGlobalRunningSum(df, "cum", col("v"), order), "cum")
        val want = df
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cum", sum($"v").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        rn.size == rows.size && rn == byTb(want, "rn") && cum == byTb(want, "cum")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }
}
