package graft.cdc.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.model.Changelog

/** T1 — the low/high-watermark snapshot-consistency protocol, re-derived as
  * offset-bracketing batch jobs (no in-band signal records).
  *
  * Reference algorithm (MySqlSnapshotSplitReadTask.java:166-212,
  * SnapshotSplitReader.java:249-338): per chunk,
  *   1. read offset -> LOW watermark
  *   2. scan the chunk rows
  *   3. read offset -> HIGH watermark
  *   4. if LOW == HIGH: emit scan as-is (backfill skip,
  *      SnapshotSplitReader.java:142-154)
  *   5. else: read log events in (LOW, HIGH] for keys in the chunk range and
  *      upsert them into the scanned rows; emit every surviving row
  *      rewritten as READ (snapshot ts zeroed, RecordUtils.java:77-147)
  *
  * In Spark the chunk scan is a JDBC/parquet range read and the backfill is
  * a range-filtered changelog read; the merge is the same hash aggregation
  * as [[Changelog.upsertMaterialize]], shuffled by pk — never collected.
  */
object SnapshotProtocol {

  /** [keyLo, keyHi) containment on pk, None = unbounded —
    * [[graft.cdc.source.RowImageHybrid.rangePredicate]] over the scalar key.
    */
  def rangePredicate(keyLo: Option[Long], keyHi: Option[Long]): org.apache.spark.sql.Column =
    graft.cdc.source.RowImageHybrid.rangePredicate(col("pk"), keyLo.map(lit), keyHi.map(lit))

  /** Normalize one chunk: `scanned` is the chunk's snapshot rows (changelog
    * shape, op='r'), `changelog` the log, (lowWm, highWm] the backfill
    * bracket, [keyLo, keyHi) the chunk key range (null = unbounded).
    * Output: the chunk's consistent state at highWm, every row op='r',
    * ts_ms 0 — exactly what the reference's normalized split output is.
    */
  def normalizeChunk(
      scanned: DataFrame,
      changelog: DataFrame,
      lowWm: Long,
      highWm: Long,
      keyLo: Option[Long],
      keyHi: Option[Long]
  ): DataFrame = {
    val inRange = (df: DataFrame) => df.where(rangePredicate(keyLo, keyHi))
    val snap = inRange(scanned)
    if (lowWm == highWm) {
      // backfill-skip short circuit
      snap.select(col("pk"), col("offset"), lit(Changelog.OpRead).as("op"),
        lit(0L).as("ts_ms"), col("val"))
    } else {
      val backfill = inRange(
        changelog.where(col("offset") > lowWm && col("offset") <= highWm))
      val merged = Changelog.upsertMaterialize(snap, backfill)
      merged.select(col("pk"), col("last_offset").as("offset"),
        lit(Changelog.OpRead).as("op"), lit(0L).as("ts_ms"), col("val"))
    }
  }
}
