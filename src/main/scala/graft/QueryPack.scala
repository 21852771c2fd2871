package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named batch query + optional DuckDB oracle, contributed by a module.
  * SparkEntry concatenates all packs into the driver contract maps.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** DuckDB-runnable SQL per query name; queries absent here get the
    * driver's weaker rows-only check.
    */
  def oracles: Map[String, String]
}

/** Fixture policy. A synthesized changelog fixture (the lineitem and
  * orders envelopes, the IVM customer/orders pair, the test_decoding
  * lines) stands in for stored bytes: a log the source landed once and a
  * reader reads again. So each fixture is its plain synthesis plus
  * `.persist()`, and Spark's cache manager serves every rebuilt identical
  * plan from the one cached relation:
  *   - it renders once per JVM, at its first action, not while a query is
  *     built; a bench's first timed pass pays the render, later passes
  *     read the cache, and nothing survives across runs;
  *   - the cached relation is a leaf: Catalyst does not push a consumer's
  *     filter through it into the synthesis;
  *   - a lost cached block recomputes from lineage instead of failing the
  *     query.
  * The streaming fixtures stage their logs as embedded-Derby change tables
  * under a per-JVM scratch root ([[stageChangeTable]]).
  */
object FixtureStaging {

  /** Per-JVM scratch root for fixture databases, removed on JVM exit:
    * within one run a staged log is the external database the stream
    * tails; across runs nothing survives.
    */
  private lazy val jvmScratch: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_stage_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }))
    dir.getAbsolutePath
  }

  /** Stage a fixture change table once per JVM and return its JDBC URL.
    * The embedded-Derby database lives under [[jvmScratch]], keyed by
    * `stage` and a strong hash of the sf path (embedded Derby is
    * single-JVM; distinct sf dirs must never collide on a 32-bit
    * String.hashCode). A stage whose `logTable` holds `count` rows ending
    * at SEQ `lastSeq` is reused: content verification, so a partial stage
    * from a killed run fails the count or the max-seq probe. Otherwise
    * `logTable` and its `dependents` (tables derived from the log, such as
    * a sink's state table) are dropped, and `append(url)` lands the log.
    */
  def stageChangeTable(
      stage: String,
      sfDir: String,
      logTable: String,
      count: Long,
      lastSeq: Option[Long],
      dependents: Seq[String] = Nil)(append: String => Unit): String = {
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sfDir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val url = s"jdbc:derby:$jvmScratch/${stage}_$key/logdb;create=true"
    def withStatement[T](f: java.sql.Statement => T): T = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        try f(st) finally st.close()
      } finally conn.close()
    }
    val staged = try withStatement { st =>
      val rs = st.executeQuery(s"SELECT COUNT(*), MAX(SEQ) FROM $logTable")
      try {
        rs.next()
        rs.getLong(1) == count && lastSeq.forall(_ == rs.getLong(2))
      } finally rs.close()
    } catch { case _: java.sql.SQLException => false }
    if (!staged) {
      // a partial stage would collide on SEQ, and a state table derived
      // from it may have diverged: drop both before appending
      withStatement { st =>
        (logTable +: dependents).foreach { t =>
          try st.executeUpdate(s"DROP TABLE $t")
          catch { case _: java.sql.SQLException => () }
        }
      }
      append(url)
    }
    url
  }
}
