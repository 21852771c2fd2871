package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Scheduler counters observed from outside the program. */
final class Counters extends SparkListener {
  val jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill,
      failedTasks, failedTaskMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) {
      failedTasks.incrementAndGet()
      failedTaskMs.addAndGet(e.taskInfo.duration)
    }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "executor_run_ms" -> runMs.get.toDouble,
    "gc_ms" -> gcMs.get.toDouble, "shuffle_read_mb" -> shuffleRead.get / 1048576.0,
    "shuffle_write_mb" -> shuffleWrite.get / 1048576.0, "spill_mb" -> spill.get / 1048576.0,
    "failed_tasks" -> failedTasks.get.toDouble, "failed_task_ms" -> failedTaskMs.get.toDouble)
}

final case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around each public call the harness makes, kept in memory and
  * written when the run ends. Off (the untraced run) a span is a plain
  * call: no listener, no bus drain, nothing recorded.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val counters: Counters = if (on) { val c = new Counters; sc.addSparkListener(c); c } else null
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var run = 0

  private def now(): Map[String, Double] = { PerfbenchBus.drain(sc); counters.snapshot() }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val c0 = now()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val c1 = now()
        stack.pop()
        spans += Span(id, name, parent, run, t0, t1,
          c1.map { case (k, v) => k -> (v - c0(k)) })
      }
    }

  /** Total over all spans of one name. */
  def total(name: String, counter: String = null): Double =
    spans.iterator.filter(_.name == name)
      .map(s => if (counter == null) s.ms else s.counters(counter)).sum

  def totals(): Map[String, Double] = if (on) { PerfbenchBus.drain(sc); counters.snapshot() } else Map.empty

  def write(path: java.nio.file.Path): Unit = if (on) {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$cs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Stats {
  /** Nearest-rank quantile of an unsorted sample (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  /** Highest of p99/p95/p90/p50 that leaves at least ten samples above it. */
  def highQuantile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.5).find(q => n * (1 - q) >= 10).getOrElse(0.5)
}
