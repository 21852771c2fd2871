package perfbench

import scala.collection.mutable

import graft.cdc.model.RowImage
import graft.cdc.source.{CdcMicroBatch, CdcSource}

/** `live_tail`: open loop. One generator thread appends envelope frames on
  * one JDBC connection at a fixed rate, each stamped with the time it was
  * due, while the stream runs on the default trigger into the generic sink.
  * After a warm-up, freshness (due time to the commit of the micro-batch
  * holding the event) is measured over a steady window of the run's
  * seconds. Then the query is stopped for a fixed downtime while the
  * generator keeps writing, and restarted from its checkpoint; recovery is
  * the time from restart until every event appended before it is committed.
  */
object LiveTail {

  /** `restarts` stop/restart cycles; the first `warmRestarts` warm the
    * restart path and are not measured.
    */
  final case class Sizes(keys: Int, preload: Int, rate: Int, warmupS: Double, downtimeS: Double,
      restarts: Int, warmRestarts: Int)
  val Full = Sizes(keys = 20000, preload = 2000, rate = 2000, warmupS = 8, downtimeS = 0.5,
    restarts = 9, warmRestarts = 2)
  val Tiny = Sizes(keys = 200, preload = 100, rate = 200, warmupS = 1, downtimeS = 0.5,
    restarts = 2, warmRestarts = 1)

  /** Fixed-rate appender, continuing the log after `first` events. `due(seq)`
    * is the epoch-ms time event `seq` was due; `appended` how many events
    * the log holds (committed).
    */
  final class Generator(url: String, gen: EventGen, first: Long, rate: Int, capacity: Int)
      extends Thread("perfbench-gen") {
    val due = new Array[Double](capacity + 1)
    @volatile var appended = first
    @volatile var stopping = false
    @volatile var lateMaxMs = 0.0
    @volatile var error: Throwable = _
    private var t0Ms = 0L
    private var t0Ns = 0L
    setDaemon(true)

    override def run(): Unit = try {
      t0Ms = System.currentTimeMillis()
      t0Ns = System.nanoTime()
      val c = java.sql.DriverManager.getConnection(url)
      try {
        c.setAutoCommit(false)
        val ps = c.prepareStatement("INSERT INTO CHG VALUES (?, ?, ?, ?, ?, ?)")
        var sent = 0L
        while (!stopping) {
          val target = math.min(capacity.toLong, (System.nanoTime() - t0Ns) * rate / 1000000000L)
          if (target > sent) {
            val firstDueNs = t0Ns + sent * 1000000000L / rate
            lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - firstDueNs) / 1e6)
            while (sent < target) {
              val e = gen.next()
              val d = t0Ms + (e.seq - first) * 1000.0 / rate
              due(e.seq.toInt) = d
              Load.bindEvent(ps, e, d.toLong)
              ps.addBatch()
              sent += 1
            }
            ps.executeBatch()
            c.commit()
            appended = first + sent
          }
          Thread.sleep(10)
        }
        ps.close()
      } finally c.close()
    } catch { case e: Throwable => error = e }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sz = if (ctx.tiny) Tiny else Full
    val t = Gen.table
    val url = Derby.url(ctx.dir, "live")
    Derby.exec(url, CdcMicroBatch.createEnvelopeTableSql("CHG"))
    RowImage.createStateTable(url, t, "STATE")
    val expected = new Expected
    val gen = new EventGen(ctx.seed, (1L to sz.keys).toArray, expected)
    val totalS = sz.warmupS + ctx.seconds + sz.restarts * (sz.downtimeS + 10) + 30
    Load.insertEvents(url, "CHG", Iterator.fill(sz.preload)(gen.next()))
    val g = new Generator(url, gen, sz.preload, sz.rate, sz.preload + (totalS * sz.rate).toInt)
    val progress = new ProgressLog(() => g.appended)
    spark.streams.addListener(progress)
    val ckpt = ctx.dir.resolve("ckpt").toString

    def start() = RowImage.applyEnvelopeStream(
      CdcSource.read(spark).option("envelope", "true").loadMicroBatch(url, "CHG"),
      t, url, "STATE", ckpt)
    def waitFor(seq: Long): Trigger = progress.awaitSeq(seq, 60000).getOrElse(
      throw new IllegalStateException(s"sink did not reach seq $seq within 60 s"))

    // the stream commits a small preloaded batch (its cold start) before the
    // generator runs, so no batch is born beyond one chunk (see NOTES.md)
    var q = start()
    ctx.op("preload")(waitFor(sz.preload - 1L))
    g.start()
    Thread.sleep((sz.warmupS * 1000).toLong)
    ctx.metric("setup_s", ctx.sinceJvmStart(), "s")

    // ---- timed: steady window ---------------------------------------------
    val w0 = System.currentTimeMillis()
    Thread.sleep(ctx.seconds * 1000L)
    val w1 = System.currentTimeMillis()
    val lastDue = g.appended - 1
    ctx.op("window")(waitFor(lastDue))
    val steady = progress.all.filter(_.startMs >= w0) // every batch holding a window event
    val window = steady.filter(_.startMs < w1)
    ctx.log(s"window: ${window.size} triggers, ${window.map(_.rows).sum} rows")

    // ---- timed: stop, downtime, restart from the checkpoint ---------------
    val recoveries = mutable.ArrayBuffer.empty[Double]
    for (i <- 1 to sz.restarts) {
      q.stop()
      Thread.sleep((sz.downtimeS * 1000).toLong)
      val before = g.appended - 1
      val committed = progress.all.lastOption.fold(-1L)(_.endSeq)
      val r0 = System.currentTimeMillis()
      q = start()
      ctx.op("recovery")(waitFor(before)).foreach { tr =>
        val s = (tr.commitMs - r0) / 1000.0
        if (i > sz.warmRestarts) recoveries += s
        ctx.log(s"restart $i: backlog ${before - committed} recovery $s s")
      }
    }

    // ---- drain and check ---------------------------------------------------
    g.stopping = true
    g.join()
    if (g.error != null) ctx.fail("generator", g.error)
    ctx.op("drain")(waitFor(g.appended - 1))
    q.stop()
    val want = expected.checksum
    if (ctx.args.corrupt) want.sum += 1
    ctx.op("verify live_tail")(Load.stateChecksum(spark, url, "STATE"))
      .foreach(got => ctx.check("live_tail sink state", got.same(want), s"got $got want $want"))
    // exactly once: every appended event sits in exactly one committed batch
    val batches = progress.all.filter(_.endSeq < g.appended).map(tr => (tr.startSeq, tr.endSeq)).distinct
    val covered = batches.map { case (s, e) => e - s }.sum
    ctx.check("live_tail batches cover the log once", covered == g.appended &&
      batches.headOption.forall(_._1 == -1L) &&
      batches.zip(batches.drop(1)).forall { case (a, b) => a._2 == b._1 },
      s"${batches.size} batches cover $covered of ${g.appended} events")

    // ---- metrics ------------------------------------------------------------
    val fresh = mutable.ArrayBuffer.empty[Double]
    for (tr <- steady; s <- tr.startSeq + 1 to tr.endSeq) {
      val d = g.due(s.toInt)
      if (d >= w0 && d < w1) fresh += tr.commitMs - d
    }
    if (fresh.nonEmpty) {
      ctx.metric("latency_p50_ms", Stats.median(fresh.toSeq), "ms")
      ctx.metric("latency_p99_ms", Stats.quantile(fresh.toSeq, Stats.highQuantile(fresh.size)), "ms")
    }
    if (recoveries.nonEmpty) ctx.metric("elapsed_s", Stats.median(recoveries.toSeq), "s")
    if (ctx.tracer.on && window.nonEmpty) {
      for ((name, key) <- Durations.keys)
        ctx.metric(name + "_p50", Stats.median(window.map(_.durations.getOrElse(key, 0L).toDouble)), "ms")
      ctx.metric("source.rows_per_trigger_p50", Stats.median(window.map(_.rows.toDouble)), "count")
      ctx.metric("live.backlog_max", window.map(_.backlog).max.toDouble, "count")
      ctx.metric("live.gen_late_ms_max", g.lateMaxMs, "ms")
      ctx.metric("live.freshness_samples", fresh.size, "count")
    }
  }
}
