package graft.cdc.source

import graft.SparkTestBase
import graft.cdc.model.Changelog

/** The facade's JDBC snapshot path against a real database: Derby (embedded,
  * ships on the Spark classpath) plays MySQL — chunk planning probes run as
  * JDBC scans, the planned predicates become `spark.read.jdbc` partitions,
  * and the validated fetchsize/pool options reach the reader.
  */
class JdbcScanSpec extends SparkTestBase {

  private lazy val url: String = {
    val dir = java.nio.file.Files.createTempDirectory("derby_cdc").toString
    val u = s"jdbc:derby:$dir/testdb;create=true"
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE customer (c_custkey BIGINT PRIMARY KEY, c_acctbal DOUBLE)")
      val ins = conn.prepareStatement("INSERT INTO customer VALUES (?, ?)")
      // mirror the parquet fixture's keys so counts are cross-checkable
      val rows = Changelog.table(spark, sfDir, "customer")
        .select("c_custkey", "c_acctbal").collect()
      rows.foreach { r =>
        ins.setLong(1, r.getLong(0)); ins.setDouble(2, r.getDouble(1))
        ins.addBatch()
      }
      ins.executeBatch()
    } finally conn.close()
    u
  }

  test("chunked JDBC snapshot reads every row exactly once across partitions") {
    val expected = Changelog.table(spark, sfDir, "customer").count()
    val df = CdcSource.read(spark)
      .option("scan.incremental.snapshot.chunk.size", 64)
      .option("scan.snapshot.fetch.size", 32)
      .loadJdbc(url, "customer", "C_CUSTKEY")
    assert(df.count() == expected)
    // more than one chunk partition actually planned
    assert(df.rdd.getNumPartitions > 1, s"partitions=${df.rdd.getNumPartitions}")
    // values survive the trip
    val viaJdbc = df.select("C_CUSTKEY", "C_ACCTBAL").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val viaParquet = Changelog.table(spark, sfDir, "customer")
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(viaJdbc == viaParquet)
    // each partition holds exactly its planned (start, end] chunk's keys
    val keys = viaParquet.toSeq.map(_._1)
    val planned = graft.cdc.split.ChunkPlanner
      .unevenChunkRangesJdbc(url, "customer", "C_CUSTKEY", chunkSize = 64)
      .map { case (lo, hi) => keys.count(k => lo.forall(k > _) && hi.forall(k <= _)) }
    val perPartition = df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    assert(perPartition == planned)
  }

  test("connection pool size caps the number of concurrent scan partitions") {
    val df = CdcSource.read(spark)
      .option("scan.incremental.snapshot.chunk.size", 64)
      .option("connection.pool.size", 2)
      .loadJdbc(url, "customer", "C_CUSTKEY")
    assert(df.rdd.getNumPartitions <= 2)
    assert(df.count() == Changelog.table(spark, sfDir, "customer").count())
  }

  test("in-database probe planner agrees with the DataFrame probe planner") {
    url // force fixture
    val viaJdbc = graft.cdc.split.ChunkPlanner
      .unevenChunkRangesJdbc(url, "customer", "C_CUSTKEY", chunkSize = 64)
    val viaDf = graft.cdc.split.ChunkPlanner.unevenChunkRangesIterative(
      Changelog.table(spark, sfDir, "customer")
        .selectExpr("c_custkey AS C_CUSTKEY"), "C_CUSTKEY", 64)
    assert(viaJdbc == viaDf)
    assert(viaJdbc.length > 1)
  }

  test("probe throttle paces the boundary-probe loop at the reference policy") {
    url // force fixture
    // recording pacer: no real sleeping in tests
    var pauses = List.empty[Long]
    val ranges = graft.cdc.split.ChunkPlanner.unevenChunkRangesJdbc(
      url, "customer", "C_CUSTKEY", chunkSize = 8,
      throttle = graft.cdc.split.ChunkPlanner.ProbeThrottle(
        everyProbes = 10, pauseMs = 100L, pause = ms => pauses ::= ms))
    // same plan as unthrottled — pacing changes timing only
    assert(ranges == graft.cdc.split.ChunkPlanner.unevenChunkRangesJdbc(
      url, "customer", "C_CUSTKEY", chunkSize = 8))
    // the reference pauses 100ms once per 10 probes (MySqlChunkSplitter
    // maySleep); chunkSize=8 over the fixture plans enough chunks to fire
    assert(pauses.nonEmpty, s"expected pacing pauses for ${ranges.length} chunks")
    assert(pauses.forall(_ == 100L))
    assert(pauses.length == ranges.length / 10)
    // default throttle is Off: maybePause never invokes the pacer
    var offFired = false
    graft.cdc.split.ChunkPlanner.ProbeThrottle.Off
      .copy(pause = _ => offFired = true).maybePause(10)
    assert(!offFired)
    // string-key variant paces through the same hook (VARCHAR key, where
    // the probe loop actually walks the whole key space)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE throttle_str (k VARCHAR(16) PRIMARY KEY)")
      val ins = conn.prepareStatement("INSERT INTO throttle_str VALUES (?)")
      (0 until 160).foreach { i => ins.setString(1, f"k$i%05d"); ins.addBatch() }
      ins.executeBatch()
    } finally conn.close()
    var strPauses = 0
    val strRanges = graft.cdc.split.ChunkPlanner.unevenChunkRangesJdbcString(
      url, "throttle_str", "k", chunkSize = 8,
      throttle = graft.cdc.split.ChunkPlanner.ProbeThrottle(
        everyProbes = 10, pauseMs = 100L, pause = _ => strPauses += 1))
    assert(strRanges.length == 20, s"ranges=${strRanges.length}")
    assert(strPauses == 2)
  }

  test("dialect collation faces render pinned SQL; the Binary face runs live on Derby") {
    import graft.cdc.split.ChunkPlanner
    import graft.cdc.split.ChunkPlanner.{SqlCollation, SqlDialect}
    // golden per-dialect probe strings. The MySql face is the one no
    // engine in this sandbox can parse (real MySQL grammar: `BINARY expr`
    // collate-cast + `LIMIT offset, count` — NOT ANSI OFFSET/FETCH), so its
    // spelling is pinned here against the published grammar; the Postgres
    // face is additionally EXECUTED live by DuckDB's PostgreSQL-derived
    // parser in DialectLiveSpec, and the Ansi face on Derby below.
    assert(ChunkPlanner.boundaryProbeSql("t", "k", 100, SqlDialect.MySql) ==
      "SELECT k FROM t WHERE BINARY k > ? ORDER BY BINARY k LIMIT 99, 1")
    assert(ChunkPlanner.boundaryProbeSql("t", "k", 100, SqlDialect.Postgres) ==
      """SELECT k FROM t WHERE k COLLATE "C" > ? ORDER BY k COLLATE "C" OFFSET 99 ROWS FETCH NEXT 1 ROWS ONLY""")
    assert(ChunkPlanner.maxKeySql("t", "k", SqlDialect.MySql) ==
      "SELECT k FROM t ORDER BY BINARY k DESC LIMIT 1")
    assert(ChunkPlanner.maxKeySql("t", "k", SqlDialect.Postgres) ==
      """SELECT k FROM t ORDER BY k COLLATE "C" DESC FETCH FIRST 1 ROWS ONLY""")
    assert(ChunkPlanner.firstBoundarySql("t", "k", 50, SqlDialect.MySql) ==
      "SELECT k FROM t ORDER BY BINARY k LIMIT 49, 1")
    assert(ChunkPlanner.firstBoundarySql("t", "k", 50, SqlDialect.Ansi) ==
      "SELECT k FROM t ORDER BY k OFFSET 49 ROWS FETCH NEXT 1 ROWS ONLY")
    assert(ChunkPlanner.numericBoundaryProbeSql("t", "k", 64, SqlDialect.Ansi) ==
      "SELECT MAX(k) FROM (SELECT k AS k FROM t WHERE k >= ? ORDER BY k FETCH FIRST 64 ROWS ONLY) probe_t")
    assert(ChunkPlanner.numericBoundaryProbeSql("t", "k", 64, SqlDialect.MySql) ==
      "SELECT MAX(k) FROM (SELECT k AS k FROM t WHERE k >= ? ORDER BY k LIMIT 64) probe_t")
    // the pushed range predicates under each dialect face
    val ranges = Seq((None, Some("m")), (Some("m"), None))
    assert(ChunkPlanner.jdbcPredicatesString("k", ranges, SqlCollation.MySqlBinary)
      .toSeq == Seq("BINARY k <= 'm'", "BINARY k > 'm'"))
    assert(ChunkPlanner.jdbcPredicatesString("k", ranges, SqlCollation.PostgresC)
      .toSeq == Seq("""k COLLATE "C" <= 'm'""", """k COLLATE "C" > 'm'"""))
    // Binary face executes the same builder output live (Derby UCS_BASIC ==
    // codepoint order): probe SQL parses, and the planned chain covers the
    // key space exactly once
    url // force fixture
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(
        ChunkPlanner.boundaryProbeSql("customer", "C_CUSTKEY", 64, SqlDialect.Ansi))
      st.setString(1, "0")
      val rs = st.executeQuery()
      assert(rs.next())
      rs.close(); st.close()
    } finally conn.close()
  }

  test("facade option validation still guards the JDBC path") {
    intercept[CdcSource.ValidationException] {
      CdcSource.read(spark)
        .option("scan.snapshot.fetch.size", "not-a-number")
        .loadJdbc(url, "customer", "C_CUSTKEY")
    }
    intercept[CdcSource.ValidationException] {
      CdcSource.read(spark)
        .option("scan.incremental.snapshot.chunk.size", 0)
        .loadJdbc(url, "customer", "C_CUSTKEY")
    }
  }
}
