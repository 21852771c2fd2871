package graft.cdc.split

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Snapshot chunk planning — the reference's statistics-driven split
  * algebra re-expressed as Spark plans.
  *
  * Reference: flink-connector-mysql-cdc/.../source/assigners/MySqlChunkSplitter.java
  *   - analyzeTable (min/max/approx count)          :157-183
  *   - evenly-sized arithmetic ranges               :319-353
  *   - unevenly-sized probe-driven ranges           :188-221,355-376
  *   - distribution factor (ceil to 4 digits)       :453-478
  * and .../source/utils/StatementUtils.java:38-130 (MIN/MAX/next-max probes),
  * RecordUtils.java:302-337 (splitKeyRangeContains).
  *
  * One body per algorithm, written over a key `Column`: the single-`Long`
  * names here pass the bare column, [[KeyedChunkPlanner]]'s string and
  * composite names pass `struct(keys*)`. The four probe-driven splitters
  * (DataFrame and JDBC, `Long` and general keys) share one loop,
  * [[boundaryChain]], and differ only in the probe they hand it.
  *
  * Scale notes: min/max/count are single-pass partial aggregations; even
  * ranges need only the broadcast 1-row stats (no shuffle of the data);
  * the uneven window form ranks the distinct keys with [[DistributedRank]]
  * (one range shuffle) and collects every chunkSize-th one, ~cnt/chunkSize
  * rows of planning metadata; ntile equi-depth buckets (W2) are the
  * sampling-based scale path.
  */
object ChunkPlanner {

  /** A1/A2 — one-row stats frame: min_k, max_k, cnt. */
  def analyze(df: DataFrame, key: String): DataFrame = analyzeKey(df, col(key))

  /** [[analyze]] over any key expression (a column or a key struct). */
  private[split] def analyzeKey(df: DataFrame, k: Column): DataFrame =
    df.agg(min(k).as("min_k"), max(k).as("max_k"), count(lit(1)).as("cnt"))

  /** A5 — distribution factor ×10000, exact integer ceiling division:
    * ceil(10000 * (max-min+1) / cnt). The reference computes BigDecimal with
    * 4-digit ceiling (MySqlChunkSplitter.java:453-478); scaling by 10^4 keeps
    * the oracle comparison in exact integer arithmetic.
    */
  def distributionFactor(df: DataFrame, key: String): DataFrame =
    analyze(df, key).select(
      col("min_k"),
      col("max_k"),
      col("cnt"),
      expr("((max_k - min_k + 1) * 10000 + cnt - 1) div cnt").as("factor_x10000")
    )

  /** The even-vs-uneven split decision (MySqlChunkSplitter.java:406-452):
    * evenly-sized arithmetic ranges are used iff the distribution factor
    * lies inside [lower, upper] (defaults 0.05 and 1000.0,
    * MySqlSourceOptions.java:207-226); outside the band the splitter falls
    * back to probe-driven uneven ranges. Bounds are exact-integer scaled
    * like [[distributionFactor]].
    */
  def useEvenSplit(
      factorX10000: Long,
      lowerX10000: Long = 500L,
      upperX10000: Long = 10000000L
  ): Boolean =
    factorX10000 >= lowerX10000 && factorX10000 <= upperX10000

  /** Dynamic chunk size (MySqlChunkSplitter.java:406-434, BASELINE.md):
    * when the key space is dense the arithmetic ranges hold ~chunkSize rows;
    * when sparse/skewed the effective size scales with the distribution
    * factor, floored at 1: max(factor * chunkSize, 1). factorX10000 is the
    * exact-integer scaled factor from [[distributionFactor]].
    */
  def dynamicChunkSize(chunkSize: Int, factorX10000: Long): Long = {
    // BigInt: factorX10000 can be ~1e15 for sparse bigint key spaces, where
    // the naive product with chunkSize overflows Long and would silently
    // floor to 1
    val exact = BigInt(factorX10000) * chunkSize / 10000
    exact.max(1).min(Long.MaxValue).toLong
  }

  /** A4/O1 — the next-chunk-end probe: max of the next `chunkSize` keys at or
    * above `lowerBound` (StatementUtils.java:99-130).
    */
  def nextChunkMax(df: DataFrame, key: String, lowerBound: Long, chunkSize: Int): DataFrame =
    nextMaxOf(df.where(col(key) >= lowerBound), col(key), chunkSize)

  /** Max of the first `chunkSize` values of `k` in `rows`. orderBy+limit
    * lets Spark run a TakeOrdered (per-partition top-k, no full sort).
    */
  private[split] def nextMaxOf(rows: DataFrame, k: Column, chunkSize: Int): DataFrame =
    rows.select(k.as("k"))
      .orderBy(col("k"))
      .limit(chunkSize)
      .agg(max(col("k")).as("next_max"))

  /** Evenly-split chunk assignment (MySqlChunkSplitter.java:319-353): chunk
    * ranges are pure arithmetic over (min, chunkSize) — only the broadcast
    * one-row stats join touches the data, so this plan scales to any table
    * size without a data shuffle (the groupBy is the verification summary).
    */
  def evenChunkStats(df: DataFrame, key: String, chunkSize: Int): DataFrame = {
    val stats = analyze(df, key).select(col("min_k"))
    df.select(col(key).as("k"))
      .crossJoin(broadcast(stats))
      // integer div keeps exactness for key spans beyond 2^53 (double
      // division + floor would misassign rows and diverge from the oracle)
      .withColumn("chunk_id", expr(s"(k - min_k) div $chunkSize"))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("lo"), max(col("k")).as("hi"))
  }

  /** Unevenly-split ranges (MySqlChunkSplitter.java:188-221): the reference
    * probes the DB for the max of each next-chunkSize key block; over unique
    * keys that is exactly "every chunkSize-th distinct key is a boundary".
    * split_id, split_start (null for first), split_end (null for last).
    * Planning metadata only — output is ~cnt/chunkSize rows. When the
    * distinct-key count is a multiple of chunkSize the last range is the
    * empty (max, None) — see [[windowChunkRanges]].
    */
  def unevenChunkRanges(df: DataFrame, key: String, chunkSize: Int): DataFrame =
    windowChunkRanges(df, col(key), chunkSize)

  /** [[unevenChunkRanges]] over any key expression. The distinct keys are
    * ranked by [[DistributedRank]] (one range shuffle, no partition-less
    * window), every chunkSize-th one is collected to the driver — the same
    * kind of planning-metadata collect as [[KeyedChunkPlanner.sampledChunkRanges]]
    * — and [[chain]]ed into a local frame: nothing is cached, so a lost
    * block recomputes from lineage.
    *
    * When the distinct-key count is a multiple of chunkSize, the last
    * boundary is the max key and the chain ends with the empty range
    * (max, None); the probe loop ([[boundaryChain]]) stops at the max key
    * instead. The empty range stays: the DuckDB oracle computes the same
    * chain and the sf0.01 hashes pin it, and it costs one empty task.
    * ChunkPlannerSpec pins it.
    */
  private[split] def windowChunkRanges(df: DataFrame, k: Column, chunkSize: Int): DataFrame = {
    val ranked = DistributedRank
      .withGlobalRowNumber(df.select(k.as("k")), "rn", Seq(col("k")), dedup = true)
    val bounds = ranked.where(col("rn") % chunkSize === 0)
      .select(col("rn"), col("k")).collect()
      .sortBy(_.getLong(0)).map(_.get(1)).toSeq
    val kType = ranked.schema("k").dataType
    val rows = chain(bounds).zipWithIndex.map { case ((lo, hi), i) =>
      Row(i.toLong, lo.orNull, hi.orNull)
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("split_id", LongType, nullable = false),
        StructField("split_start", kType), StructField("split_end", kType))))
  }

  /** Ascending boundaries b1 < ... < bn as the covering (start, end] chain
    * (None, b1], (b1, b2], ..., (bn, None); no boundaries gives (None, None).
    */
  private[split] def chain[B](bounds: Seq[B]): Seq[(Option[B], Option[B])] = {
    val opts = bounds.map(Some(_))
    (None +: opts) zip (opts :+ None)
  }

  /** P4 — composite split-key range containment, exact reference algebra
    * (RecordUtils.java:302-337). For each component i:
    *   lower_i = key_i <=> start_i, upper_i = key_i <=> end_i
    * first split  (start null): any(upper_i < 0) && all(upper_i <= 0)
    * last  split  (end   null): all(lower_i >= 0)
    * middle split:              any(lower_i >= 0) && any(upper_i < 0) && all(upper_i <= 0)
    */
  def splitKeyRangeContains(
      key: Seq[Column],
      start: Option[Seq[Long]],
      end: Option[Seq[Long]]
  ): Column = {
    def anyTrue(cs: Seq[Column]): Column = cs.reduce(_ || _)
    def allTrue(cs: Seq[Column]): Column = cs.reduce(_ && _)
    (start, end) match {
      case (None, None) => lit(true)
      case (None, Some(e)) =>
        val lt = key.zip(e).map { case (k, v) => k < v }
        val le = key.zip(e).map { case (k, v) => k <= v }
        anyTrue(lt) && allTrue(le)
      case (Some(s), None) =>
        allTrue(key.zip(s).map { case (k, v) => k >= v })
      case (Some(s), Some(e)) =>
        val ge = key.zip(s).map { case (k, v) => k >= v }
        val lt = key.zip(e).map { case (k, v) => k < v }
        val le = key.zip(e).map { case (k, v) => k <= v }
        anyTrue(ge) && anyTrue(lt) && allTrue(le)
    }
  }

  /** The reference's probe-driven uneven splitter as a driver-side loop
    * (MySqlChunkSplitter.java:188-221 nextChunkEnd): repeatedly ask the
    * source for max(next chunkSize keys past the current boundary). Each
    * probe is a TakeOrdered job over the pushed-down range filter — the same
    * serial probe pattern the reference runs against MySQL, so only
    * appropriate when chunk count is modest; [[evenChunkStats]] /
    * [[sampleBuckets]] are the 100 TB paths.
    * Returns (splitStart, splitEnd) with None = unbounded, exactly covering
    * the key space: (None, b1], (b1, b2], ..., (bn, None).
    */
  def unevenChunkRangesIterative(
      df: DataFrame,
      key: String,
      chunkSize: Int
  ): Seq[(Option[Long], Option[Long])] = {
    val stats = analyze(df, key).collect()(0)
    if (stats.isNullAt(0)) return Seq((None, None))
    val minK = stats.getAs[Number]("min_k").longValue
    // over integers, "> b" is ">= b + 1", which pushes as a plain bound
    def probe(start: Option[Long]): Option[Long] = {
      val nm = nextChunkMax(df, key, start.fold(minK)(_ + 1), chunkSize).collect()(0)
      if (nm.isNullAt(0)) None else Some(nm.getAs[Number](0).longValue)
    }
    boundaryChain[Long](stats.getAs[Number]("max_k").longValue, probe, _ >= _,
      ProbeThrottle.Off)
  }

  /** Guard against a probe loop that never reaches the last key. */
  private val MaxChunks = 10000

  /** The one boundary-chain loop behind every probe-driven splitter.
    * `probe(start)` returns the max of the next chunkSize keys strictly
    * past `start` (None = from the first key), or None when no key is
    * left; `reached(b, maxK)` ends the chain. Returns the (start, end]
    * chain (None, b1], (b1, b2], ..., (bn, None), which covers the key
    * space whatever boundaries the probe returns.
    */
  private[split] def boundaryChain[B](
      maxK: B,
      probe: Option[B] => Option[B],
      reached: (B, B) => Boolean,
      throttle: ProbeThrottle
  ): Seq[(Option[B], Option[B])] = {
    val ranges = Seq.newBuilder[(Option[B], Option[B])]
    var start: Option[B] = None
    var done = false
    var n = 0
    while (!done) {
      if (n >= MaxChunks)
        throw new IllegalStateException(
          s"uneven splitter exceeded $MaxChunks chunks before covering the key space; " +
            "use evenChunkStats, quantileRanges or sampledChunkRanges for this table")
      val boundary = probe(start).getOrElse(maxK)
      if (reached(boundary, maxK)) {
        ranges += ((start, None))
        done = true
      } else {
        ranges += ((start, Some(boundary)))
        start = Some(boundary)
      }
      n += 1
      throttle.maybePause(n)
    }
    ranges.result()
  }

  /** The probe-driven splitter executed IN the source database — the exact
    * planning cost of the reference (StatementUtils.java:99-130: each probe
    * is `SELECT MAX(k) FROM (SELECT k ... WHERE k >= ? ORDER BY k LIMIT
    * chunkSize)` returning ONE row). [[unevenChunkRangesIterative]] over a
    * DSv1 `spark.read.jdbc` frame cannot do this: V1 JDBC pushes filters but
    * not ORDER BY/LIMIT, so each probe would ship every remaining row
    * through JDBC (O(rows²/chunkSize) planning transfer). This variant runs
    * the probes as pushed-down SQL on a driver-side connection — one row
    * back per probe, like the reference's serial probe loop against MySQL.
    *
    * `dialect` spells the row limit ([[SqlLimit.firstRows]]); a numeric key
    * needs no collation, so its collation face is not used.
    */
  def unevenChunkRangesJdbc(
      url: String,
      table: String,
      key: String,
      chunkSize: Int,
      props: java.util.Properties = new java.util.Properties(),
      dialect: SqlDialect = SqlDialect.Ansi,
      throttle: ProbeThrottle = ProbeThrottle.Off
  ): Seq[(Option[Long], Option[Long])] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val stats = conn.createStatement()
      val rs = stats.executeQuery(minMaxSql(table, key))
      rs.next()
      val minK = rs.getLong(1); val minNull = rs.wasNull()
      val maxK = rs.getLong(2)
      rs.close(); stats.close()
      if (minNull) return Seq((None, None))
      val st = conn.prepareStatement(numericBoundaryProbeSql(table, key, chunkSize, dialect))
      def probe(start: Option[Long]): Option[Long] = {
        st.setLong(1, start.fold(minK)(_ + 1))
        val prs = st.executeQuery()
        prs.next()
        val nm = prs.getLong(1); val nmNull = prs.wasNull()
        prs.close()
        if (nmNull) None else Some(nm)
      }
      try boundaryChain[Long](maxK, probe, _ >= _, throttle)
      finally st.close()
    } finally conn.close()
  }

  /** Probe pacing against a production primary: the serial boundary-probe
    * loop fires one query per chunk, and an unthrottled loop over a large
    * table is a sustained read burst on the source DB. The reference pauses
    * 100 ms every 10 probes (MySqlChunkSplitter.java:484-494 maySleep);
    * [[ProbeThrottle.Reference]] reproduces that policy and `pause` is
    * injectable so tests assert the pacing points without sleeping.
    */
  final case class ProbeThrottle(
      everyProbes: Int,
      pauseMs: Long,
      pause: Long => Unit = Thread.sleep(_)) {
    def maybePause(probeCount: Int): Unit =
      if (everyProbes > 0 && probeCount % everyProbes == 0) pause(pauseMs)
  }
  object ProbeThrottle {
    val Off: ProbeThrottle = ProbeThrottle(0, 0L, _ => ())
    val Reference: ProbeThrottle = ProbeThrottle(10, 100L)
  }

  /** The COLLATION CONTRACT for string split keys pushed to a live
    * database: the planner's boundaries and the DB's `ORDER BY` /
    * comparison semantics must agree, or pushed range predicates bracket
    * different row sets than the planner ordered — chunk gaps/overlaps
    * (the reference delegates both to the DB's own ordering,
    * MySqlChunkSplitter.java:355-376 + StatementUtils.java:299-319, so it
    * never faces the mismatch; a Spark-side planner does). Spark compares
    * strings by UTF-8 binary codepoint, so `orderExpr` must force the DB
    * to the same order:
    *
    *   - [[SqlCollation.Binary]]      — identity; for DBs/columns whose
    *     collation already IS codepoint order (Derby UCS_BASIC, MySQL
    *     `*_bin` columns, SQLite default)
    *   - [[SqlCollation.MySqlBinary]] — `BINARY k`; for utf8mb4_general_ci
    *     and friends
    *   - [[SqlCollation.PostgresC]]   — `k COLLATE "C"`
    *   - [[SqlCollation.Custom]]      — any dialect's spelling
    *
    * Every probe (min/max/next-boundary) and every rendered predicate goes
    * through the same `orderExpr`, so planning order == scan order by
    * construction — ChunkPlannerSpec pins the disjoint-exact-cover
    * property on a case-mixed VARCHAR key where naive CI ordering would
    * differ.
    */
  sealed trait SqlCollation { def orderExpr(key: String): String }
  object SqlCollation {
    case object Binary extends SqlCollation { def orderExpr(key: String): String = key }
    case object MySqlBinary extends SqlCollation {
      def orderExpr(key: String): String = s"BINARY $key"
    }
    case object PostgresC extends SqlCollation {
      def orderExpr(key: String): String = s"""$key COLLATE "C""""
    }
    final case class Custom(wrap: String => String) extends SqlCollation {
      def orderExpr(key: String): String = wrap(key)
    }
  }

  /** Row-limit spelling — the SECOND per-dialect surface the probe SQL
    * crosses. ANSI `OFFSET n ROWS FETCH NEXT 1 ROWS ONLY` is what Derby,
    * PostgreSQL and DuckDB parse; real MySQL parses NEITHER `FETCH FIRST`
    * nor `OFFSET ... ROWS` — its grammar is `LIMIT offset, count`
    * (MySqlChunkSplitter's probes go through the MySQL driver, which is why
    * the reference never spells this out). A collation-correct probe with
    * an ANSI limit clause is still a syntax error on MySQL, so the dialect
    * must pin BOTH spellings.
    */
  sealed trait SqlLimit {
    /** Clause selecting the first `n` rows of the ordered scan. */
    def firstRows(n: Int): String
    /** Clause selecting the single row at `offset` (0-based). */
    def rowAt(offset: Int): String
  }
  object SqlLimit {
    case object Ansi extends SqlLimit {
      def firstRows(n: Int): String = s"FETCH FIRST $n ROWS ONLY"
      def rowAt(offset: Int): String = s"OFFSET $offset ROWS FETCH NEXT 1 ROWS ONLY"
    }
    case object MySql extends SqlLimit {
      def firstRows(n: Int): String = s"LIMIT $n"
      def rowAt(offset: Int): String = s"LIMIT $offset, 1"
    }
  }

  /** A dialect = the collation cast + the row-limit grammar, bundled so a
    * caller cannot pair MySQL's collation face with a limit clause MySQL
    * cannot parse. DialectLiveSpec executes the Postgres face end-to-end on
    * DuckDB's JDBC driver (a PostgreSQL-derived grammar that parses
    * `COLLATE "C"` and ANSI OFFSET/FETCH with codepoint semantics); the
    * Ansi face runs live on Derby in JdbcScanSpec; the MySql face is pinned
    * by golden strings against the published grammar (no MySQL-grammar
    * engine ships in this sandbox).
    */
  final case class SqlDialect(collation: SqlCollation, limit: SqlLimit)
  object SqlDialect {
    /** Derby / DuckDB / any engine whose default order is already codepoint. */
    val Ansi: SqlDialect = SqlDialect(SqlCollation.Binary, SqlLimit.Ansi)
    /** MySQL with a case-insensitive column collation (utf8mb4_general_ci). */
    val MySql: SqlDialect = SqlDialect(SqlCollation.MySqlBinary, SqlLimit.MySql)
    /** PostgreSQL (also DuckDB, whose parser accepts the same spellings). */
    val Postgres: SqlDialect = SqlDialect(SqlCollation.PostgresC, SqlLimit.Ansi)
  }

  /** The exact SQL faces the string splitter pushes to a live database,
    * exposed as pure builders so their per-dialect spelling is PINNED by
    * spec and EXECUTED by every grammar available in this sandbox: the
    * Ansi face live on Derby (JdbcScanSpec), the Postgres face live on a
    * REAL PostgreSQL 15 server (PgLiveSpec — `COLLATE "C"` probes,
    * boundary OFFSET/FETCH, pushed predicates, an ICU-collation negative
    * control) and on DuckDB's PostgreSQL-derived parser (DialectLiveSpec),
    * and the MySql face (`BINARY col` cast + `LIMIT off, 1`) pinned as
    * golden strings against the published grammar, since no MySQL-grammar
    * engine ships here (no MySQL server, no H2 jar in the offline cache).
    */
  /** The numeric splitter's A1 probe (MIN/MAX over the split key) — pure
    * builder so every dialect's spelling is grammar-validated by spec
    * (MySqlGrammarSpec parses it with the vendored MySQL grammar).
    */
  def minMaxSql(table: String, key: String): String =
    s"SELECT MIN($key), MAX($key) FROM $table"

  /** The numeric splitter's next-boundary probe: max key within the next
    * `chunkSize` rows past the cursor, as one pushed subquery, its row limit
    * spelled by the dialect (numbers need no collation cast).
    */
  def numericBoundaryProbeSql(
      table: String, key: String, chunkSize: Int,
      dialect: SqlDialect = SqlDialect.Ansi): String =
    s"SELECT MAX(k) FROM (SELECT $key AS k FROM $table WHERE $key >= ? " +
      s"ORDER BY $key ${dialect.limit.firstRows(chunkSize)}) probe_t"

  def maxKeySql(table: String, key: String, dialect: SqlDialect): String =
    s"SELECT $key FROM $table ORDER BY ${dialect.collation.orderExpr(key)} DESC " +
      dialect.limit.firstRows(1)
  def boundaryProbeSql(
      table: String, key: String, chunkSize: Int, dialect: SqlDialect): String = {
    val e = dialect.collation.orderExpr(key)
    s"SELECT $key FROM $table WHERE $e > ? ORDER BY $e " +
      dialect.limit.rowAt(chunkSize - 1)
  }
  def firstBoundarySql(
      table: String, key: String, chunkSize: Int, dialect: SqlDialect): String =
    s"SELECT $key FROM $table ORDER BY ${dialect.collation.orderExpr(key)} " +
      dialect.limit.rowAt(chunkSize - 1)

  /** [[unevenChunkRangesJdbc]] for VARCHAR split keys under an explicit
    * [[SqlCollation]] contract. Boundaries are actual key VALUES (probed
    * via collation-ordered OFFSET/FETCH, not MIN/MAX aggregates — an
    * aggregate would use the column's own collation); ranges follow the
    * keyed planner's (start, end] convention. Duplicate keys never split
    * across chunks (the boundary row's full duplicate run stays in its
    * chunk; the next probe starts strictly past the boundary value).
    */
  def unevenChunkRangesJdbcString(
      url: String,
      table: String,
      key: String,
      chunkSize: Int,
      dialect: SqlDialect = SqlDialect.Ansi,
      props: java.util.Properties = new java.util.Properties(),
      throttle: ProbeThrottle = ProbeThrottle.Off,
      connect: Option[String => java.sql.Connection] = None
  ): Seq[(Option[String], Option[String])] = {
    // `connect` injects a driver DriverManager cannot see (DialectLiveSpec
    // loads DuckDB's JDBC driver from a jar outside the app classloader)
    val conn = connect.getOrElse(
      (u: String) => java.sql.DriverManager.getConnection(u, props))(url)
    try {
      def one(sql: String, param: Option[String]): Option[String] = {
        val st = conn.prepareStatement(sql)
        try {
          param.foreach(st.setString(1, _))
          val rs = st.executeQuery()
          if (rs.next()) Option(rs.getString(1)) else None
        } finally st.close()
      }
      val maxK = one(maxKeySql(table, key, dialect), None)
        .getOrElse(return Seq((None, None)))
      val probeSql = boundaryProbeSql(table, key, chunkSize, dialect)
      val firstSql = firstBoundarySql(table, key, chunkSize, dialect)
      def probe(start: Option[String]): Option[String] = start match {
        case Some(b) => one(probeSql, Some(b))
        case None    => one(firstSql, None)
      }
      // Java-order >= only decides how EARLY to stop; coverage stays
      // exact either way because the final range is open-ended
      boundaryChain[String](maxK, probe, Ordering.String.gteq, throttle)
    } finally conn.close()
  }

  /** Render (start, end] string ranges as JDBC partition predicates under
    * the SAME collation contract the planner probed with: the (start, end]
    * renderer [[KeyedChunkPlanner.jdbcPredicates]] over the collated key.
    */
  def jdbcPredicatesString(
      key: String,
      ranges: Seq[(Option[String], Option[String])],
      collation: SqlCollation = SqlCollation.Binary
  ): Array[String] =
    KeyedChunkPlanner.jdbcPredicates(Seq(collation.orderExpr(key)),
      ranges.map { case (lo, hi) => (lo.map(Seq(_)), hi.map(Seq(_))) })

  /** S1/S2 — render [lo, hi) ranges (the shape [[quantileRanges]] returns)
    * as `spark.read.jdbc(url, table, predicates, props)` partition
    * predicates: one JDBC connection per predicate, each a half-open range
    * like the reference's chunk scans (StatementUtils.java:132-188
    * buildSplitScanQuery). N executors each pull their own key range with
    * pushed-down WHERE clauses, no coordinator in the data path. Pair with
    * `fetchsize` (reference default 1024, MySqlSourceOptions.java:111-113).
    * The probe splitters' (start, end] chains render through
    * [[KeyedChunkPlanner.jdbcPredicates]] instead.
    */
  def jdbcPredicates(key: String, ranges: Seq[(Option[Long], Option[Long])]): Array[String] =
    ranges.map { case (lo, hi) =>
      val parts = lo.map(l => s"$key >= $l").toSeq ++ hi.map(h => s"$key < $h")
      if (parts.isEmpty) "1 = 1" else parts.mkString(" AND ")
    }.toArray

  /** W2 — Mongo-style equi-depth buckets (SampleBucketSplitStrategy
    * .java:67-168), ntile semantics replayed over the DISTRIBUTED rank:
    * `ntile(n) OVER (ORDER BY k)` would drain every row through one
    * partition (the single-partition-window scale killer and the WARN the
    * smoke logs flagged); instead the global rank comes from
    * [[DistributedRank]] (one range shuffle and a two-phase pass, no Window
    * node) and the bucket is ntile's exact fill arithmetic on that rank —
    * the first cnt%n buckets hold ceil(cnt/n) rows, the rest floor — the
    * same replay [[sampleRateBuckets]] already uses. The row count is a
    * 1-row probe (max rank) over the rank's output, which like the buckets
    * reads the rank's one range shuffle, so count and buckets come from ONE
    * evaluation of `df` — the production-scale
    * variant samples first (`df.sample`, like the reference's `$sample`),
    * and two evaluations of a sample need not agree.
    */
  def sampleBuckets(df: DataFrame, key: String, n: Int): DataFrame = {
    val ranked =
      DistributedRank.withGlobalRowNumber(df.select(col(key).as("k")), "rn", Seq(col("k")))
    val cnt = ranked.agg(coalesce(max(col("rn")), lit(0L))).head().getLong(0)
    val q = cnt / n
    val r = cnt % n
    ranked
      .withColumn("bucket",
        when(col("rn") <= lit((q + 1) * r), (col("rn") - 1) / lit(q + 1) + 1)
          .otherwise(lit(r) + (col("rn") - lit((q + 1) * r) - 1)
            / lit(math.max(q, 1L)) + 1)
          .cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("lo"), max(col("k")).as("hi"))
  }

  /** The reference's sample-rate DECISION policy (SampleBucketSplitStrategy
    * .java:67-168): collections smaller than one chunk stay a single split;
    * otherwise `numChunks = size/chunkBytes + 1`, and the sample size is the
    * full count below `samplingThreshold` (reference: 102400) or
    * `floor(count * samplingRate)` (reference: 0.05) above it — Mongo's
    * `$sample` stays a cheap pseudo-random cursor only under ~5%.
    */
  final case class SamplePlan(numChunks: Int, numberOfSamples: Long) {
    def fullSample(count: Long): Boolean = numberOfSamples == count
  }
  def samplePlan(
      sizeInBytes: Long,
      count: Long,
      chunkSizeBytes: Long,
      samplingThreshold: Long = 102400L,
      samplingRate: Double = 0.05
  ): SamplePlan =
    if (sizeInBytes < chunkSizeBytes) SamplePlan(1, 0L)
    else {
      val numChunks = (sizeInBytes / chunkSizeBytes).toInt + 1
      val samples =
        if (count < samplingThreshold) count
        else math.floor(count * samplingRate).toLong
      SamplePlan(numChunks, samples)
    }

  /** W2 — the sample-rate splitter: [[samplePlan]]'s decision applied as a
    * split chain, the `$sample` + `$bucketAuto` pipeline of
    * SampleBucketSplitStrategy.java:109-112 re-expressed as relational ops.
    * Sampling is SYSTEMATIC (every step-th row of the key order) rather
    * than pseudo-random so the result is verification-deterministic — the
    * production analog is `df.sample(rate, seed)`, same boundary-precision
    * contract. Bucketing replays ntile's exact fill arithmetic on the
    * sample rank, so no partition-less Window node appears (the rank comes
    * from [[DistributedRank]]). Output is the reference's split chain: a
    * leading (null, firstLower], one (lo, hi] per bucket, a trailing
    * (lastUpper, null] — `cnt` is the sampled-rows-per-bucket diagnostic,
    * null on the two cap rows.
    *
    * Driver-side probes: ONE 1-row aggregate for (count, bytes) and ONE
    * 1-row aggregate for the sampled-rank total — planner probes like
    * [[analyze]], never a data collect.
    */
  def sampleRateBuckets(
      df: DataFrame,
      key: String,
      sizeCol: Column,
      chunkSizeBytes: Long,
      samplingThreshold: Long = 102400L,
      samplingRate: Double = 0.05
  ): DataFrame = {
    val spark = df.sparkSession
    val stats = df.agg(count(lit(1)), sum(sizeCol).cast("long")).collect()(0)
    val cnt = stats.getLong(0)
    val bytes = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val plan = samplePlan(bytes, cnt, chunkSizeBytes, samplingThreshold, samplingRate)
    val nullK = lit(null).cast("long")
    if (plan.numChunks == 1 || plan.numberOfSamples == 0)
      return spark.range(1).select(
        lit(0L).as("split_id"), nullK.as("cnt"),
        nullK.as("split_start"), nullK.as("split_end"))
    val step = math.max(cnt / plan.numberOfSamples, 1L)
    val ranked = DistributedRank.withGlobalRowNumber(
      df.select(col(key).cast("long").as("k")), "rn", Seq(col("k")), dedup = true)
    val m = ranked.agg((max(col("rn")).cast("long") / lit(step)).cast("long"))
      .collect()(0) match {
      case row if row.isNullAt(0) => 0L
      case row => row.getLong(0)
    }
    if (m == 0L)
      return spark.range(1).select(
        lit(0L).as("split_id"), nullK.as("cnt"),
        nullK.as("split_start"), nullK.as("split_end"))
    // ntile(n) fill arithmetic over sample rank sr = rn/step in 1..m: the
    // first (m % n) buckets hold ceil(m/n) rows, the rest floor(m/n)
    val n = math.min(plan.numChunks.toLong, m)
    val q = m / n
    val r = m % n
    val sampled = ranked.where(col("rn") % step === 0)
      .withColumn("sr", (col("rn") / step).cast("long"))
    val bucketed = sampled.withColumn("bucket",
      when(col("sr") <= lit((q + 1) * r), (col("sr") - 1) / lit(q + 1) + 1)
        .otherwise(lit(r) + (col("sr") - lit((q + 1) * r) - 1) / lit(math.max(q, 1L)) + 1)
        .cast("long"))
    val buckets = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("k")).as("lo"), max(col("k")).as("hi"))
    val mid = buckets.select(col("bucket").as("split_id"), col("cnt"),
      col("lo").as("split_start"), col("hi").as("split_end"))
    val first = buckets.where(col("bucket") === 1).select(
      lit(0L).as("split_id"), nullK.as("cnt"),
      nullK.as("split_start"), col("lo").as("split_end"))
    val last = buckets.where(col("bucket") === n).select(
      lit(n + 1).as("split_id"), nullK.as("cnt"),
      col("hi").as("split_start"), nullK.as("split_end"))
    first.unionAll(mid).unionAll(last)
  }

  /** W2 at 100 TB — equi-depth split boundaries from the Greenwald-Khanna
    * sketch (`approxQuantile`): one distributed pass, no global sort, no
    * single-partition window. Returns [lo, hi) covering ranges shaped for
    * [[jdbcPredicates]]; `relativeError` trades boundary precision against
    * sketch size exactly like the reference's sample rate trades it
    * (SampleBucketSplitStrategy.java:67-168).
    */
  def quantileRanges(
      df: DataFrame,
      key: String,
      n: Int,
      relativeError: Double = 0.01
  ): Seq[(Option[Long], Option[Long])] = {
    require(n >= 1, s"need at least one bucket, got $n")
    val probs = (1 until n).map(_.toDouble / n).toArray
    if (probs.isEmpty) return Seq((None, None))
    val qs = df.stat.approxQuantile(key, probs, relativeError)
      .map(_.toLong).distinct.sorted
    val bounds = qs.map(Option(_))
    ((None +: bounds) zip (bounds :+ None)).filter {
      case (lo, hi) => lo != hi // degenerate when quantiles collapse
    }.toSeq
  }
}
