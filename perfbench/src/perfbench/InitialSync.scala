package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{Trigger => SparkTrigger}

import graft.cdc.model.RowImage
import graft.cdc.source.{CdcMicroBatch, CdcSource}

/** `initial_sync`: bring a live table into the sink, closed loop. A seeded
  * Derby source table is snapshotted through `CdcSource.loadJdbc` (chunk
  * plan, parallel chunk scans) into the generic state table with
  * `RowImage.applyRows`; then an envelope backlog is drained through
  * `loadMicroBatch(envelope=true)` and `RowImage.applyEnvelopeStream` with
  * `Trigger.AvailableNow`, at the default chunk size. Each sync starts from
  * an empty sink; syncs repeat for the run's seconds.
  */
object InitialSync {

  final case class Sizes(rows: Int, backlog: Int, maxPerTrigger: Int)
  val Full = Sizes(rows = 100000, backlog = 40000, maxPerTrigger = 4 * 8096)
  val Tiny = Sizes(rows = 2000, backlog = 1000, maxPerTrigger = 4 * 8096)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sz = if (ctx.tiny) Tiny else Full
    val t = Gen.table
    val url = Derby.url(ctx.dir, "sync")

    // ---- set-up: source table, backlog, expected state ---------------------
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val keys = Gen.unevenKeys(sz.rows, rnd)
    val expected = new Expected
    Derby.exec(url, Gen.sourceDdl("ITEMS"), CdcMicroBatch.createEnvelopeTableSql("CHG"))
    Load.insertItems(url, "ITEMS", keys.iterator.map { k =>
      val it = Gen.item(k, rnd); expected.rows(k) = (0L, it); it
    })
    val gen = new EventGen(ctx.seed ^ 0x5eedL, keys, expected).startAt(1)
    Load.insertEvents(url, "CHG", Iterator.fill(sz.backlog)(gen.next()))
    val want = expected.checksum
    if (ctx.args.corrupt) want.sum += 1

    val progress = new ProgressLog(() => sz.backlog.toLong)
    spark.streams.addListener(progress)
    ctx.metric("setup_s", ctx.sinceJvmStart(), "s")

    if (ctx.tracer.on) {
      // the snapshot scan and the chunk plan on their own, outside the syncs
      val ranges = ctx.tracer.span("split.plan_only")(
        graft.cdc.split.ChunkPlanner.unevenChunkRangesJdbc(url, "ITEMS", "ID", 8096))
      ctx.metric("split.chunks", ranges.size, "count")
      val rows = ctx.tracer.span("source.snapshot_scan")(
        CdcSource.read(spark).loadJdbc(url, "ITEMS", "ID").queryExecution.toRdd.count())
      ctx.metric("source.snapshot_scan_ms", ctx.tracer.total("source.snapshot_scan"), "ms")
      ctx.metric("source.snapshot_rows", rows, "count")
    }

    // ---- timed: whole syncs ------------------------------------------------
    val syncs = mutable.ArrayBuffer.empty[(Double, Double, Double)] // total, snapshot, drain
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var n = 0
    while (n == 0 || (System.nanoTime() < deadline && ctx.failed == 0)) {
      n += 1
      ctx.tracer.run = n
      Derby.dropIfExists(url, "STATE")
      RowImage.createStateTable(url, t, "STATE")
      val ckpt = ctx.dir.resolve(s"ckpt-$n").toString
      progress.clear()
      ctx.op("sync") {
        val t0 = System.nanoTime()
        val snap = ctx.tracer.span("split.plan")(CdcSource.read(spark).loadJdbc(url, "ITEMS", "ID"))
        val ir = snap.select(lit(0L).as("offset"), lit("r").as("op"),
          struct(col("ID").as("id")).cast(t.keyType).as("key"),
          struct(col("ID").as("id"), col("AMT").as("amt"), col("D").as("d"), col("TS").as("ts"),
            col("NAME").as("name"), col("PAYLOAD").as("payload")).cast(t.schema).as("after"))
        ctx.tracer.span("model.apply_rows")(RowImage.applyRows(ir, t, url, "STATE"))
        val t1 = System.nanoTime()
        ctx.tracer.span("drain") {
          val stream = CdcSource.read(spark).option("envelope", "true")
            .option("max-events-per-trigger", sz.maxPerTrigger.toLong)
            .loadMicroBatch(url, "CHG")
          val q = RowImage.applyEnvelopeStream(stream, t, url, "STATE", ckpt,
            Some(SparkTrigger.AvailableNow()))
          q.awaitTermination()
          q.exception.foreach(throw _)
        }
        val t2 = System.nanoTime()
        syncs += (((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      }
      val got = ctx.op("verify initial_sync")(Load.stateChecksum(spark, url, "STATE"))
      got.foreach(g => ctx.check(s"initial_sync sink state (sync $n)", g.same(want), s"got $g want $want"))
    }

    // ---- metrics ------------------------------------------------------------
    if (syncs.nonEmpty) {
      val total = Stats.median(syncs.map(_._1).toSeq)
      ctx.metric("elapsed_s", total, "s")
      ctx.metric("catchup_events_per_s", sz.backlog / Stats.median(syncs.map(_._3).toSeq), "1/s")
      ctx.metric("snapshot_rows_per_s", sz.rows / Stats.median(syncs.map(_._2).toSeq), "1/s")
      val trig = progress.all.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
      if (trig.nonEmpty) {
        ctx.metric("latency_p50_ms", Stats.median(trig), "ms")
        ctx.metric("latency_p99_ms", Stats.quantile(trig, Stats.highQuantile(trig.size)), "ms")
      }
    }
    if (ctx.tracer.on) {
      val runs = math.max(1, n).toDouble
      ctx.metric("split.plan_ms", ctx.tracer.total("split.plan") / runs, "ms")
      ctx.metric("model.apply_rows_ms", ctx.tracer.total("model.apply_rows") / runs, "ms")
      ctx.metric("model.apply_rows_per_s",
        sz.rows * runs / (ctx.tracer.total("model.apply_rows") / 1000), "1/s")
      val trig = progress.all
      for ((name, key) <- Durations.keys if name != "spark.trigger_ms")
        ctx.metric(name, trig.map(_.durations.getOrElse(key, 0L)).sum / runs, "ms")
      ctx.metric("spark.triggers", trig.size / runs, "count")
    }
  }
}

/** JDBC plumbing for the seeded inputs, on one connection in batches. */
object Load {
  def insertItems(url: String, table: String, items: Iterator[Item]): Unit =
    batched(url, s"INSERT INTO $table VALUES (?, ?, ?, ?, ?, ?)", items) { (ps, it) =>
      ps.setLong(1, it.id)
      ps.setBigDecimal(2, java.math.BigDecimal.valueOf(it.amt, 4))
      ps.setDate(3, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(it.day)))
      ps.setTimestamp(4, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(it.tsMicros * 1000)))
      ps.setString(5, it.name)
      ps.setBytes(6, it.bytes)
    }

  def insertEvents(url: String, table: String, events: Iterator[Event]): Unit =
    batched(url, s"INSERT INTO $table VALUES (?, ?, ?, ?, ?, ?)", events)(bindEvent(_, _, 0L))

  def bindEvent(ps: java.sql.PreparedStatement, e: Event, tsMs: Long): Unit = {
    ps.setLong(1, e.seq); ps.setString(2, e.op); ps.setLong(3, tsMs)
    ps.setString(4, Gen.table.name); ps.setString(5, e.beforeJson); ps.setString(6, e.afterJson)
  }

  private def batched[T](url: String, sql: String, rows: Iterator[T])(
      bind: (java.sql.PreparedStatement, T) => Unit): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement(sql)
      try rows.grouped(1000).foreach { g =>
        g.foreach { r => bind(ps, r); ps.addBatch() }
        ps.executeBatch(); c.commit()
      } finally ps.close()
    } finally c.close()
  }

  /** The sink state read back through `RowImage.readState`. */
  def stateChecksum(spark: org.apache.spark.sql.SparkSession, url: String, table: String): Checksum = {
    val c = new Checksum
    RowImage.readState(spark, Gen.table, url, table).collect()
      .foreach(r => c.add(Rows.item(r, 0, 2).canonical(r.getLong(1))))
    c
  }
}
