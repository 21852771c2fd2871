package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession definition: every main and the spec base build
  * their session here, so master, shuffle width, time zone, UI, log level
  * and the native-function extensions are set in one place.
  */
object GraftSession {

  /** Thread count for the mains: `SPARK_GRAFT_CPUS`, else the host's
    * available processors.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, no UI and
    * the `graft_*` functions resolvable from SQL through
    * `spark.sql.extensions`. Given the sf dir it runs on, AQE's starting
    * shuffle width follows that dir's bytes ([[initialShufflePartitions]]).
    */
  def apply(cpus: Int, sfDir: Option[String]): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.cdc.types.GraftExtensions")
    // shuffle width must scale with DATA, not stay pinned to the thread
    // count: at sf10 a 32-way shuffle puts ~1.2 M wide envelope rows in
    // each hash-agg partition and spills (the salted-merge superlinearity
    // r11 measured — 99 s at 32-wide vs 51 s at 512-wide); at sf0.1 a
    // fixed 512 pays per-task map-output overhead for nothing (sf1 A/B:
    // 3.9 s at 32 vs 6.1 s at 512). Start shuffles at ~input-bytes/2MB
    // and let AQE coalesce small ones down — width follows bytes.
    sfDir.foreach(dir => builder.config(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      initialShufflePartitions(dir, cpus)))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Data-proportional AQE starting width: one initial shuffle partition
    * per ~2 MB of on-disk input (the scale protocol's maxPartitionBytes),
    * never below the session's shuffle.partitions floor, capped at 1024.
    * AQE's coalescing shrinks small shuffles back down, so the only job of
    * this number is to be LARGE ENOUGH that sf10-scale aggregations don't
    * spill through a thread-count-width shuffle.
    */
  def initialShufflePartitions(sfDir: String, floor: Int): Long = {
    // recursive: directory-style parquet tables (Spark-written) hold their
    // bytes one level down; a flat listFiles() would sum ~4KB per dir and
    // silently collapse the width to the floor at sf10
    def walkBytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walkBytes).sum
      else f.length()
    val bytes = try walkBytes(new java.io.File(sfDir)) catch { case _: Throwable => 0L }
    val width = math.min(1024L, math.max(floor.toLong, bytes / (2L << 20)))
    System.err.println(
      s"[bench] initialPartitionNum=$width (input=${bytes >> 20}MB, floor=$floor)")
    width
  }
}
