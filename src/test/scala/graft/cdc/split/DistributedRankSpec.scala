package graft.cdc.split

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Runtime self-check for [[DistributedRank]]: its correctness leans on two
  * undocumented-contract Spark behaviors — the bit layout of
  * `monotonically_increasing_id` (pid << 33 | local record number) and the
  * optimizer pinning the nondeterministic projection above the
  * range-partitioned sort. PlanSpec guards the plan SHAPE; this spec guards
  * the VALUES against the reference formulation (`row_number() OVER (ORDER
  * BY ...)`), so a Spark upgrade changing either contract fails loudly here
  * instead of silently corrupting every rank-derived result (commit ranks,
  * chunk boundaries).
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
    // regression: pid/lrn read runtime task identity; before the
    // localCheckpoint barrier, the bases aggregate and the output join
    // re-derived the range exchange separately and a downstream
    // coalesce(1) (the Verify write path) made their AQE partition merges
    // diverge — at sf1 this corrupted 185k of 299k ranks while every
    // small-SF run passed (both sides coalesced to one partition there).
    // Force many surviving partitions so the small repro exercises it.
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
}
