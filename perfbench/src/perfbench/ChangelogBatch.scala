package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.cdc.merge.Skew
import graft.cdc.model.{Changelog, RowImage}
import graft.cdc.source.RowImageHybrid
import graft.cdc.split.ChunkPlanner

/** `changelog_batch`: the changelog algebra over a seeded event log staged
  * as parquet, no JDBC. In set-up, one untimed pass collects every call's
  * output and checks it against the generator's own state; it also warms
  * the JIT. A timed pass runs the same calls, each output fully consumed by
  * the `noop` writer; passes repeat for the run's seconds. `elapsed_s` is
  * the median pass, `latency_p50_ms` the median call and `latency_p99_ms`
  * the nearest-rank p99 call (the slowest call of the run: a run makes
  * fewer than a hundred calls).
  */
object ChangelogBatch {

  final case class Sizes(keys: Int, events: Int, buckets: Int)
  val Full = Sizes(keys = 32000, events = 160000, buckets = 4)
  val Tiny = Sizes(keys = 300, events = 1500, buckets = 4)

  /** The timed calls, in pass order; each names its per-layer metrics. */
  val calls: Seq[String] = Seq(
    "model.upsert_scalar", "merge.upsert_salted", "model.decode_envelope",
    "model.upsert_envelope", "model.upsert_ir", "split.sample_buckets",
    "source.hybrid", "merge.emit_filter")

  /** Staged inputs, the calls over them, and each call's expected result. */
  final class Staged(val calls: Seq[(String, () => DataFrame)], val expected: Map[String, Checksum])

  def stage(spark: SparkSession, sz: Sizes, seed: Long, dir: java.nio.file.Path): Staged = {
    import spark.implicits._
    val t = Gen.table
    val rnd = new java.util.SplittableRandom(seed)
    val expected = new Expected
    val snapshot = (1L to sz.keys / 2).map { k =>
      val it = Gen.item(k, rnd); expected.rows(k) = (-1L, it); it
    }
    val gen = new EventGen(seed ^ 0x5eedL, (1L to sz.keys).toArray, expected)
    val events = Vector.fill(sz.events)(gen.next())

    val nullStr: String = null
    val parts = spark.sparkContext.defaultParallelism
    def write(df: DataFrame, name: String): DataFrame = {
      val p = dir.resolve(name).toString
      df.repartition(parts).write.parquet(p)
      spark.read.parquet(p)
    }
    val snap = write(snapshot.map(it => (-1L, it.id, "r", 0L, it.value, nullStr))
      .toDF("offset", "pk", "op", "ts_ms", "val", "props"), "snapshot.parquet")
    val changes = write(events.map(e =>
        (e.seq, e.key, e.op, 1000L + e.seq, if (e.after == null) 0.0 else e.after.value, nullStr))
      .toDF("offset", "pk", "op", "ts_ms", "val", "props"), "scalar.parquet")
    val env = write((snapshot.map(it => (-1L, "r", 0L, nullStr, it.json)) ++
        events.map(e => (e.seq, e.op, 1000L + e.seq, e.beforeJson, e.afterJson)))
      .toDF("offset", "op", "ts_ms", "before", "after"), "envelope.parquet")

    // hybrid chunk plan from the program's own bucket planner: bucket lower
    // bounds become chunk boundaries, chunk i observed at a later log position
    val bounds = ChunkPlanner.sampleBuckets(changes, "pk", sz.buckets)
      .collect().map(_.getAs[Long]("lo")).sorted.drop(1).toSeq
    val ranges = (None +: bounds.map(Some(_))).zip(bounds.map(Some(_)) :+ None)
    def hwm(i: Int): Long = sz.events.toLong * (i + 1) / (ranges.size + 1)
    val plan = RowImageHybrid.planFromBoundaries(t,
      ranges.map { case (lo, hi) => (lo.map(v => Seq(v)), hi.map(v => Seq(v))) },
      i => (hwm(i) - 100, hwm(i)))
    val splitSchema = StructType(Seq(StructField("lo", t.keyType), StructField("hi", t.keyType),
      StructField("hwm", LongType, nullable = false)))
    val splits = spark.createDataFrame(java.util.Arrays.asList(ranges.zipWithIndex.map {
      case ((lo, hi), i) => Row(lo.map(Row(_)).orNull, hi.map(Row(_)).orNull, hwm(i))
    }: _*), splitSchema).cache()
    splits.count()

    // ---- expected results, from the generator alone ------------------------
    val scalar = new Checksum
    expected.rows.foreachEntry { (k, v) =>
      val op = if (v._1 < 0) "r" else events(v._1.toInt).op
      scalar.add(s"$k|${v._1}|$op|${v._2.value}")
    }
    val items = expected.checksum
    val decode = new Checksum
    snapshot.foreach(it => decode.add(s"-1|r|${it.canonical(-1)}"))
    events.foreach(e => decode.add(s"${e.seq}|${e.op}|" +
      (if (e.after != null) e.after.canonical(e.seq) else s"key=${e.key}")))
    // ntile fill arithmetic over the sorted key column
    val keysSorted = events.map(_.key).sorted
    val buckets = new Checksum
    val (q, rem) = (keysSorted.length / sz.buckets, keysSorted.length % sz.buckets)
    var start = 0
    for (b <- 1 to sz.buckets) {
      val n = if (b <= rem) q + 1 else q
      buckets.add(s"$b|$n|${keysSorted(start)}|${keysSorted(start + n - 1)}")
      start += n
    }
    // log events (not snapshot reads) past their chunk's high watermark
    val emit = new Checksum
    events.foreach(e => if (e.seq > hwm(bounds.count(_ <= e.key))) emit.add(s"${e.seq}"))

    new Staged(Seq(
      "model.upsert_scalar" -> (() => Changelog.upsertMaterialize(snap, changes)),
      "merge.upsert_salted" -> (() => Skew.saltedUpsertMaterialize(snap, changes, 8)),
      "model.decode_envelope" -> (() => RowImage.decodeEnvelope(env, t)),
      "model.upsert_envelope" -> (() => RowImage.upsertMaterializeEnvelope(env, t)),
      "model.upsert_ir" -> (() => RowImage.upsertMaterialize(RowImage.decodeEnvelope(env, t), t)),
      "split.sample_buckets" -> (() => ChunkPlanner.sampleBuckets(changes, "pk", sz.buckets)),
      "source.hybrid" -> (() => RowImageHybrid.materialize(RowImage.decodeEnvelope(env, t), t, plan)),
      "merge.emit_filter" -> (() =>
        RowImage.emitFilter(env.withColumn("key", RowImage.keyColumn(t)), splits))),
      Map("model.upsert_scalar" -> scalar, "merge.upsert_salted" -> scalar,
        "model.decode_envelope" -> decode, "model.upsert_envelope" -> items,
        "model.upsert_ir" -> items, "split.sample_buckets" -> buckets,
        "source.hybrid" -> items, "merge.emit_filter" -> emit))
  }

  /** Checksum of one call's collected output, in the expectation's terms. */
  def observed(name: String, df: DataFrame): Checksum = {
    val c = new Checksum
    val rows = (if (name == "merge.emit_filter") df.select("offset") else df).collect()
    name match {
      case "model.upsert_scalar" | "merge.upsert_salted" =>
        rows.foreach(r => c.add(s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getDouble(3)}"))
      case "model.decode_envelope" =>
        rows.foreach { r =>
          val after = r.getStruct(5)
          c.add(s"${r.getLong(0)}|${r.getString(1)}|" +
            (if (after != null) Rows.item(after, 0, 1).canonical(r.getLong(0))
             else s"key=${r.getStruct(3).getLong(0)}"))
        }
      case "split.sample_buckets" =>
        rows.foreach(r => c.add(s"${r.getInt(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getLong(3)}"))
      case "merge.emit_filter" => rows.foreach(r => c.add(s"${r.getLong(0)}"))
      case _ => rows.foreach(r => c.add(Rows.item(r, 0, 2).canonical(r.getLong(1))))
    }
    c
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark

    /** One pass: per-call wall times in ms, in call order. */
    def pass(s: Staged): Seq[Double] = s.calls.map { case (name, df) =>
      val t0 = System.nanoTime()
      ctx.tracer.span(name)(df().write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e6
    }

    // ---- set-up: stage, then one warm pass that checks every output --------
    val s = stage(spark, if (ctx.tiny) Tiny else Full, ctx.seed, ctx.dir.resolve("staged"))
    require(s.calls.map(_._1) == calls)
    ctx.log(f"staged at ${ctx.sinceJvmStart()}%.1f s")
    for ((name, df) <- s.calls) {
      val want = s.expected(name)
      if (ctx.args.corrupt) want.sum += 1
      ctx.op(s"verify $name")(observed(name, df()))
        .foreach(got => ctx.check(name, got.same(want), s"got $got want $want"))
    }
    ctx.metric("setup_s", ctx.sinceJvmStart(), "s")

    // ---- timed: whole passes until the run's seconds are used ---------------
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val callMs = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // at least one pass; a failed pass ends the loop
    var n = 0
    while (n == 0 || (System.nanoTime() < deadline && ctx.failed == 0)) {
      n += 1
      ctx.tracer.run += 1
      ctx.op("pass")(pass(s))
        .foreach { ms =>
          callMs ++= ms; passTimes += ms.sum / 1000
          ctx.log(s"pass ${passTimes.size}: ${ms.map(_.round).mkString(" ")} ms")
        }
    }

    // ---- metrics ------------------------------------------------------------
    if (passTimes.nonEmpty) {
      ctx.metric("elapsed_s", Stats.median(passTimes.toSeq), "s")
      ctx.metric("latency_p50_ms", Stats.median(callMs.toSeq), "ms")
      ctx.metric("latency_p99_ms", Stats.quantile(callMs.toSeq, 0.99), "ms")
    }
    if (ctx.tracer.on) {
      val runs = passTimes.size.toDouble
      for (c <- calls) {
        ctx.metric(s"${c}_ms", ctx.tracer.total(c) / runs, "ms")
        ctx.metric(s"${c}_shuffle_mb", ctx.tracer.total(c, "shuffle_write_mb") / runs, "MB")
        ctx.metric(s"${c}_tasks", ctx.tracer.total(c, "tasks") / runs, "count")
      }
    }
  }
}

/** Readers for the item image out of Spark rows. */
object Rows {
  /** Item from a row whose id sits at `idAt` and the value columns
    * (amt, d, ts, name, payload) start at `valuesAt`.
    */
  def item(r: Row, idAt: Int, valuesAt: Int): Item = {
    val i = valuesAt
    val amt = r.getDecimal(i)
    val d = r.getDate(i + 1)
    val ts = r.getTimestamp(i + 2)
    Item(r.getLong(idAt),
      if (amt == null) 0L else amt.setScale(4).unscaledValue.longValueExact,
      if (d == null) 0 else d.toLocalDate.toEpochDay.toInt,
      if (ts == null) 0L else Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000,
      r.getString(i + 3),
      if (r.isNullAt(i + 4)) null
      else java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](i + 4)))
  }
}
