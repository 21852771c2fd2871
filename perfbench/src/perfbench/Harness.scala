package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM. Prints, as the
  * last line of standard output, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced).
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --dir <scratch dir> [--size full|tiny] [--corrupt 1] [--fail-op <operation>]
  *         [--trace-out <file>] [--data <dir>] [--expected <file>]
  * }}}
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dir: Path, tiny: Boolean, corrupt: Boolean, failOp: Option[String], traceOut: Option[Path],
      data: Option[Path], expected: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("dir")).toAbsolutePath, m.get("size").contains("tiny"),
      m.get("corrupt").contains("1"), m.get("fail-op"), m.get("trace-out").map(Paths.get(_)),
      m.get("data").map(Paths.get(_)), m.get("expected").map(Paths.get(_)))
  }

  val workloads: Map[String, Ctx => Unit] = Map(
    "initial_sync" -> InitialSync.run,
    "live_tail" -> LiveTail.run,
    "changelog_batch" -> ChangelogBatch.run,
    "query_suite" -> QuerySuite.run)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val body = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    Files.createDirectories(a.dir)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      // task retries as on a cluster: 4 attempts per task (spark.task.maxFailures)
      .master(s"local[$cpus,${Ctx.TaskAttempts}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, new Tracer(a.trace, spark.sparkContext), a)
    ctx.log(f"session up at ${ctx.sinceJvmStart()}%.1f s")
    try body(ctx)
    catch {
      case e: Throwable =>
        ctx.fail("workload", e)
    } finally {
      ctx.metric("peak_rss_mb", Ctx.peakRssMb(), "MB")
      if (ctx.tracer.on) ctx.traceSummary()
      a.traceOut.foreach(ctx.tracer.write)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
      Derby.shutdown()
    }
    println(ctx.json())
    System.out.flush()
    sys.exit(0)
  }
}

/** Run context: the session, the tracer, the parsed arguments, and the
  * tally of operations, failures and metrics.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val args: Harness.Args) {
  val seed: Long = args.seed
  val seconds: Int = args.seconds
  val tiny: Boolean = args.tiny
  val dir: Path = args.dir
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try {
      if (args.failOp.contains(name)) throw new IllegalStateException(s"injected failure of $name")
      Some(f)
    } catch { case e: Throwable => fail(name, e); None }
  }

  def fail(name: String, e: Throwable): Unit = {
    failed += 1
    log(s"FAILED $name: $e")
    e.printStackTrace(System.err)
  }

  /** One correctness check, counted as an operation. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; log(s"WRONG $name: $detail") }
    else log(s"ok $name: $detail")
  }

  /** Seconds since the JVM started (set-up includes JVM and session start). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Traced-run extras: scheduler totals, the error rate, and each
    * end-to-end metric as measured with tracing on (`trace.<name>`), whose
    * difference to the untraced run is the tracing overhead.
    */
  def traceSummary(): Unit = {
    val tot = tracer.totals()
    for ((name, key, unit) <- Seq(("spark.jobs", "jobs", "count"), ("spark.tasks", "tasks", "count"),
        ("spark.shuffle_write_mb", "shuffle_write_mb", "MB"), ("spark.spill_mb", "spill_mb", "MB"),
        ("spark.gc_ms", "gc_ms", "ms"), ("spark.task_failures", "failed_tasks", "count"),
        ("spark.failed_task_ms", "failed_task_ms", "ms")))
      metric(name, tot(key), unit)
    metric("run.error_rate", failed.toDouble / math.max(attempted, 1), "share")
    for (m <- Ctx.EndToEnd; (v, u) <- metrics.get(m)) metric(s"trace.$m", v, u)
  }

  def json(): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": ${math.max(attempted, 1)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

object Ctx {
  val TaskAttempts = 4

  val EndToEnd: Seq[String] =
    Seq("setup_s", "peak_rss_mb", "elapsed_s", "latency_p50_ms", "latency_p99_ms")

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Embedded Derby: the live source database and the sink. Lock timeouts
  * stay at Derby's defaults (deadlock detection after 20 s, lock wait
  * timeout 60 s).
  */
object Derby {
  def url(dir: Path, name: String): String = s"jdbc:derby:${dir.resolve(name)};create=true"

  def exec(url: String, sql: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try { val st = c.createStatement(); try sql.foreach(st.execute) finally st.close() }
    finally c.close()
  }

  def dropIfExists(url: String, table: String): Unit =
    try exec(url, s"DROP TABLE $table")
    catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () } // no such table

  def shutdown(): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby signals success by throwing
}
