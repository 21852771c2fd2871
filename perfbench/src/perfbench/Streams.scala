package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One committed micro-batch as `StreamingQueryProgress` reports it. */
final case class Trigger(startSeq: Long, endSeq: Long, startMs: Long, commitMs: Long,
    rows: Long, durations: Map[String, Long], backlog: Long)

/** Collects every progress report of the session's streaming queries. The
  * commit time of a batch is its trigger start plus `triggerExecution`,
  * which covers planning, the sink call, and the offset and commit logs.
  * `appended` reports how far the load generator had written when the
  * report arrived, for the backlog metric.
  */
final class ProgressLog(appended: () => Long) extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Trigger]()
  private val Seq_ = """.*"seq"\s*:\s*(-?\d+).*""".r

  private def seq(json: String, default: Long): Long = json match {
    case null => default
    case Seq_(n) => n.toLong
    case _ => default
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty && p.numInputRows > 0) {
      val s = p.sources.head
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = seq(s.endOffset, -1L)
      System.err.println(s"[perfbench] trigger ${p.batchId} start ${p.timestamp} rows ${p.numInputRows} " +
        s"end $end ms ${d.toSeq.sortBy(_._1).mkString(" ")}")
      q.add(Trigger(seq(s.startOffset, -1L), end, start,
        start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d, appended() - end))
    }
  }

  def all: Seq[Trigger] = q.asScala.toSeq.sortBy(_.endSeq)
  def clear(): Unit = q.clear()

  /** Waits until some committed batch reaches `seq`; that batch, if any. */
  def awaitSeq(seq: Long, timeoutMs: Long): Option[Trigger] = {
    val until = System.currentTimeMillis() + timeoutMs
    var hit: Option[Trigger] = None
    while (hit.isEmpty && System.currentTimeMillis() < until) {
      hit = q.asScala.filter(_.endSeq >= seq).minByOption(_.endSeq)
      if (hit.isEmpty) Thread.sleep(5)
    }
    hit
  }
}

object Durations {
  /** Per-trigger components as `StreamingQueryProgress.durationMs` names them. */
  val keys: Seq[(String, String)] = Seq(
    "spark.trigger_ms" -> "triggerExecution", "source.latest_offset_ms" -> "latestOffset",
    "model.apply_batch_ms" -> "addBatch", "spark.wal_commit_ms" -> "walCommit",
    "spark.commit_offsets_ms" -> "commitOffsets", "spark.query_planning_ms" -> "queryPlanning")
}
