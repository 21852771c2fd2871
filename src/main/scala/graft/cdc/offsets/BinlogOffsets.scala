package graft.cdc.offsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binlog-offset algebra — the reference's total order on log positions
  * (BinlogOffset.java:173-246) and the Debezium-style GTID interval-set
  * containment it delegates to, re-expressed as Spark columns / pure Scala.
  *
  * The synthetic changelog carries a monotone `offset` (event_id); we derive
  * a (file, pos) pair from it exactly like MySQL rotates binlog files, so
  * file/pos ordering semantics can be exercised and oracle-checked.
  */
object BinlogOffsets {

  /** Events per synthetic binlog file. */
  val EventsPerFile = 250L

  /** file = mysql-bin.NNNNNN, pos = 4 + 4*(offset % EventsPerFile) — mirrors
    * MySQL's 4-byte magic header + fixed event spacing. Exact integer
    * arithmetic so the oracle matches bit-for-bit; both the Spark and the
    * DuckDB forms interpolate [[EventsPerFile]] so they cannot drift.
    */
  def withFilePos(df: DataFrame): DataFrame =
    df.withColumn(
        "file",
        concat(lit("mysql-bin."),
          lpad(expr(s"cast(`offset` div $EventsPerFile as string)"), 6, "0"))
      )
      .withColumn("pos", expr(s"(`offset` % $EventsPerFile) * 4 + 4"))

  /** SQL fragment computing the same file/pos (DuckDB). */
  val filePosSql: String =
    s"""'mysql-bin.' || lpad(CAST("offset" // $EventsPerFile AS VARCHAR), 6, '0') AS file,
       |("offset" % $EventsPerFile) * 4 + 4 AS pos""".stripMargin

  /** (file, pos) strictly-greater-than comparison — the non-GTID branch of
    * BinlogOffset.compareTo (filename compare, then position).
    */
  def filePosGreater(file: Column, pos: Column, f: String, p: Long): Column =
    (file > f) || (file === f && pos > p)

  /** The FULL same-server comparison including the restart-skip-events
    * tiebreak (BinlogOffset.java:173-246's last compare step): events inside
    * one transaction share (file, pos) and are distinguished only by how
    * many events to skip past the position on restart. Column form of
    * [[compareOffsets]]'s same-server branch, used by the specific-offset
    * startup filter when the requested offset sits INSIDE a transaction.
    */
  def filePosSkipGreater(
      file: Column, pos: Column, skip: Column,
      f: String, p: Long, k: Long): Column =
    (file > f) ||
      (file === f && pos > p) ||
      (file === f && pos === p && skip > k)

  // ---------------------------------------------------------------------------
  // GTID set algebra (BinlogOffset.java:185-202 delegates to
  // io.debezium.connector.mysql.GtidSet — public format:
  // "uuid:1-5:7-9,uuid2:3"). Pure Scala + UDF: set-algebra on interval sets
  // is not SQL-expressible.
  // ---------------------------------------------------------------------------

  /** Parsed GTID set: serverUuid -> sorted disjoint [lo, hi] interval list. */
  final case class GtidSet(intervals: Map[String, Vector[(Long, Long)]]) {

    /** True iff every interval of this set is covered by `other` —
      * Debezium GtidSet.isContainedWithin semantics.
      */
    def isContainedWithin(other: GtidSet): Boolean =
      intervals.forall { case (uuid, ivs) =>
        other.intervals.get(uuid) match {
          case None => false
          case Some(oivs) =>
            ivs.forall { case (lo, hi) =>
              oivs.exists { case (olo, ohi) => olo <= lo && hi <= ohi }
            }
        }
      }
  }

  object GtidSet {
    /** Parse "uuid:1-5:7,uuid2:3-9"; blank/null -> empty set. Intervals are
      * normalized (sorted + merged) so equality is structural.
      */
    def parse(s: String): GtidSet = {
      if (s == null || s.trim.isEmpty) return GtidSet(Map.empty)
      val parts = s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { part =>
        val pieces = part.split(":")
        val uuid = pieces.head
        val ivs = pieces.tail.toVector.map { r =>
          r.split("-") match {
            case Array(a)    => (a.toLong, a.toLong)
            case Array(a, b) => (a.toLong, b.toLong)
            case _ => throw new IllegalArgumentException(s"bad GTID range: $r in $s")
          }
        }
        uuid -> ivs
      }.toVector
      // a uuid may appear in several comma segments ("s1:1-5,s1:7-9" as well
      // as the canonical "s1:1-5:7-9") — union the intervals, never shadow
      GtidSet(parts.groupMapReduce(_._1)(_._2)(_ ++ _).view.mapValues(merge).toMap)
    }

    private def merge(ivs: Vector[(Long, Long)]): Vector[(Long, Long)] = {
      val sorted = ivs.sortBy(_._1)
      sorted.foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((lo, hi)), (nlo, nhi)) if nlo <= hi + 1 =>
          acc :+ (lo, math.max(hi, nhi))
        case (acc, iv) => acc :+ iv
      }
    }
  }

  /** GTID-set startup resolution for the synthetic layout (event at offset
    * k carries txid k+1, cumulative set "s1:1-(k+1)"): the exclusive
    * starting sequence is the end of the covered prefix of `serverUuid` —
    * the largest N with [1, N] fully covered delivers events from offset N
    * on (events 0..N-1 are contained in the set). No covered prefix (or an
    * absent server) means nothing is skipped -> None (earliest), matching
    * the per-row containment filter of the batch facade exactly.
    * (Reference: MySqlTableSourceFactory.java:196-268 maps
    * scan.startup.specific-offset.gtid-set to BinlogOffset.ofGtidSet;
    * the reader then skips events already in the set.)
    */
  def gtidStartingSeq(gtidSet: String, serverUuid: String = "s1"): Option[Long] =
    GtidSet.parse(gtidSet).intervals.getOrElse(serverUuid, Vector.empty)
      .collectFirst { case (lo, hi) if lo <= 1L => hi - 1L }

  /** Offset kinds with the NON_STOPPING = +∞ sentinel
    * (BinlogOffset.java:173-183).
    */
  sealed trait OffsetKind
  case object Earliest    extends OffsetKind
  case object Latest      extends OffsetKind
  case object Specific    extends OffsetKind
  case object TimestampK  extends OffsetKind
  case object NonStopping extends OffsetKind

  final case class Offset(
      kind: OffsetKind,
      gtidSet: String,
      serverId: Long,
      tsSec: Long,
      file: String,
      pos: Long,
      restartSkipEvents: Long
  )

  /** Total order replicating BinlogOffset.compareTo exactly:
    * NON_STOPPING is max; GTID sets dominate when the target has them
    * (equality -> skip-events tiebreak, containment -> -1 else 1, missing
    * GTIDs assumed older); different servers compare by timestamp; same
    * server by (file ignore-case, pos, skip-events).
    */
  def compareOffsets(a: Offset, b: Offset): Int = {
    if (a.kind == NonStopping && b.kind == NonStopping) return 0
    if (a.kind == NonStopping) return 1
    if (b.kind == NonStopping) return -1
    val ag = Option(a.gtidSet).getOrElse("").trim
    val bg = Option(b.gtidSet).getOrElse("").trim
    if (bg.nonEmpty) {
      if (ag.nonEmpty) {
        val as = GtidSet.parse(ag); val bs = GtidSet.parse(bg)
        if (as == bs) return java.lang.Long.compare(a.restartSkipEvents, b.restartSkipEvents)
        return if (as.isContainedWithin(bs)) -1 else 1
      }
      return -1
    } else if (ag.nonEmpty) {
      return 1
    }
    if (a.serverId != b.serverId)
      return java.lang.Long.compare(a.tsSec, b.tsSec)
    val fc = a.file.compareToIgnoreCase(b.file)
    if (fc != 0) return fc
    if (a.pos != b.pos) return java.lang.Long.compare(a.pos, b.pos)
    java.lang.Long.compare(a.restartSkipEvents, b.restartSkipEvents)
  }

  /** UTF8String entry point for the codegen'd [[graft.cdc.types.GtidContains]]
    * expression (Scala object methods emit static forwarders, so generated
    * Java can call this directly).
    */
  def gtidContains(
      a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Boolean =
    GtidSet.parse(a.toString).isContainedWithin(GtidSet.parse(b.toString))
}
