package graft.cdc.split

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Chunk planning over GENERAL split keys — string, numeric, or composite
  * (multi-column): the general-key names of [[ChunkPlanner]]'s algorithms.
  * Each passes the key struct `struct(keys*)` to the same body the
  * single-`Long` name passes a bare column to.
  *
  * The reference splits on any comparable column including composite PKs
  * (MySqlChunkSplitter.java:63-510 works on `Object[]` split keys;
  * RecordUtils.java:302-337 compares them component-wise), so the planner
  * here models a boundary as one value per key column under LEXICOGRAPHIC
  * order — exactly Spark's own struct ordering, which lets every aggregate
  * (min/max/TakeOrdered) run natively on a `struct(keys*)` column with no
  * UDFs.
  *
  * Range convention: (start, end] — start exclusive, end inclusive, `None` =
  * unbounded — matching [[ChunkPlanner.unevenChunkRangesIterative]] and its
  * disjoint-cover property.
  *
  * Scale notes: stats, probes, the window form and the probe loop are the
  * `Long` path's own bodies; the probe loop is the reference's serial
  * planning pattern (MySqlChunkSplitter.java:188-221), never in the data
  * path.
  */
object KeyedChunkPlanner {

  /** A chunk boundary: one value per key column, compared lexicographically. */
  type Boundary = Seq[Any]

  /** Lexicographic `key tuple > b` as a Column (null-free keys). */
  def tupleGreater(keys: Seq[Column], b: Boundary): Column = {
    require(keys.length == b.length, s"${keys.length} key cols vs ${b.length} boundary values")
    def go(parts: List[(Column, Any)]): Column = parts match {
      case (k, v) :: Nil => k > lit(v)
      case (k, v) :: rest => (k > lit(v)) || (k === lit(v) && go(rest))
      case Nil => lit(false)
    }
    go(keys.zip(b).toList)
  }

  /** Lexicographic `key tuple <= b`. */
  def tupleLessEq(keys: Seq[Column], b: Boundary): Column = !tupleGreater(keys, b)

  /** Row-in-range under the (start, end] convention — the membership test a
    * chunk scan pushes down.
    */
  def inRange(keys: Seq[Column], lo: Option[Boundary], hi: Option[Boundary]): Column =
    lo.map(tupleGreater(keys, _)).getOrElse(lit(true)) &&
      hi.map(tupleLessEq(keys, _)).getOrElse(lit(true))

  /** A1/A2 generalized — one-row stats: lexicographic min/max key tuple +
    * count, a single distributed partial aggregation.
    */
  def analyze(df: DataFrame, keys: Seq[String]): DataFrame =
    ChunkPlanner.analyzeKey(df, struct(keys.map(col): _*))

  /** A4/O1 generalized — max of the next `chunkSize` rows strictly past
    * `lowerExclusive` (None = from the start): TakeOrdered over the struct
    * column, per-partition top-k, no full sort.
    */
  def nextChunkMax(
      df: DataFrame,
      keys: Seq[String],
      lowerExclusive: Option[Boundary],
      chunkSize: Int
  ): DataFrame = {
    val keyCols = keys.map(col)
    ChunkPlanner.nextMaxOf(
      df.where(lowerExclusive.map(tupleGreater(keyCols, _)).getOrElse(lit(true))),
      struct(keyCols: _*), chunkSize)
  }

  /** Uneven ranges, window form — [[ChunkPlanner.unevenChunkRanges]] over
    * the key struct: every `chunkSize`-th DISTINCT key tuple is a boundary;
    * emits split_id + struct-typed split_start/split_end (null =
    * unbounded). Planning metadata only — ~cnt/chunkSize output rows.
    */
  def unevenChunkRanges(df: DataFrame, keys: Seq[String], chunkSize: Int): DataFrame =
    ChunkPlanner.windowChunkRanges(df, struct(keys.map(col): _*), chunkSize)

  /** The reference's probe-driven splitter over general keys
    * (MySqlChunkSplitter.java:188-221 with `Object[]` boundaries): each probe
    * is a distributed TakeOrdered job; the loop itself is driver-side
    * planning ([[ChunkPlanner.boundaryChain]]). Returns (start, end] ranges
    * exactly covering the key space.
    */
  def unevenChunkRangesIterative(
      df: DataFrame,
      keys: Seq[String],
      chunkSize: Int
  ): Seq[(Option[Boundary], Option[Boundary])] = {
    val stats = analyze(df, keys).collect()(0)
    if (stats.isNullAt(0) || stats.getLong(2) == 0L) return Seq((None, None))
    def probe(start: Option[Boundary]): Option[Boundary] = {
      val nm = nextChunkMax(df, keys, start, chunkSize).collect()(0)
      if (nm.isNullAt(0)) None else Some(nm.getStruct(0).toSeq)
    }
    ChunkPlanner.boundaryChain[Boundary](stats.getStruct(1).toSeq, probe,
      compareBoundaries(_, _) >= 0, ChunkPlanner.ProbeThrottle.Off)
  }

  /** The 100 TB path for general keys — sampling-based boundaries, the
    * analog of [[ChunkPlanner.quantileRanges]] for key types approxQuantile
    * cannot sketch (strings, composites): sample the key tuples
    * (reference: SampleBucketSplitStrategy's `$sample`), rank the distinct
    * sampled tuples with [[DistributedRank]], and take `n - 1` equi-spaced
    * tuples as boundaries. One sampled pass + a boundary collect of at most
    * `n - 1` rows — no full-table rank, no serial probe loop. Boundary
    * precision degrades gracefully with `fraction` exactly like the
    * reference's sample rate; the returned (start, end] chain covers the
    * key space for ANY boundary set, so correctness never depends on the
    * sample.
    */
  def sampledChunkRanges(
      df: DataFrame,
      keys: Seq[String],
      n: Int,
      fraction: Double,
      seed: Long = 42L
  ): Seq[(Option[Boundary], Option[Boundary])] = {
    require(n >= 1, s"need at least one bucket, got $n")
    if (n == 1) return Seq((None, None))
    val sampled = df.select(struct(keys.map(col): _*).as("kt")).sample(fraction, seed)
    val ranked = DistributedRank
      .withGlobalRowNumber(sampled, "rn", Seq(col("kt")), dedup = true)
    val total = ranked.agg(max(col("rn"))).collect()(0)
    if (total.isNullAt(0)) return Seq((None, None))
    val step = math.max(total.getLong(0) / n, 1L)
    val bounds = ranked.where(col("rn") % step === 0 && col("rn") < total.getLong(0))
      .orderBy(col("rn")).limit(n - 1)
      .collect().map(r => r.getStruct(0).toSeq: Boundary)
      .distinct
    ChunkPlanner.chain(bounds.toSeq)
  }

  /** Driver-side lexicographic compare of two boundaries (components must be
    * mutually Comparable — Long/Int/String/etc as Spark rows return them).
    */
  def compareBoundaries(a: Boundary, b: Boundary): Int =
    a.zip(b).iterator.map { case (x, y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    }.find(_ != 0).getOrElse(0)

  /** Render (start, end] ranges as JDBC partition predicates with
    * lexicographic comparisons — the composite-key form of
    * [[ChunkPlanner.jdbcPredicates]] (reference StatementUtils.java:132-188
    * emits the same expanded OR-chains for composite split keys). String
    * values are single-quote escaped.
    */
  def jdbcPredicates(
      keys: Seq[String],
      ranges: Seq[(Option[Boundary], Option[Boundary])]
  ): Array[String] = {
    // every type a Spark row can hand back for a comparable key column gets
    // an explicit rendering; anything else fails loudly rather than leaking
    // an unquoted String.valueOf into the pushed-down SQL
    def sqlLit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case d: java.sql.Date => s"DATE '$d'"
      case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case t: java.time.Instant => s"TIMESTAMP '${java.sql.Timestamp.from(t)}'"
      case d: java.math.BigDecimal => d.toPlainString
      case d: BigDecimal => d.underlying.toPlainString
      case n @ (_: Long | _: Int | _: Short | _: Byte | _: Double | _: Float) =>
        String.valueOf(n)
      case b: Boolean => String.valueOf(b)
      case other =>
        throw new IllegalArgumentException(
          s"unsupported split-key literal type for JDBC predicate rendering: " +
            s"${other.getClass.getName} ($other)")
    }
    def gtSql(parts: List[(String, Any)]): String = parts match {
      case (k, v) :: Nil => s"$k > ${sqlLit(v)}"
      case (k, v) :: rest => s"($k > ${sqlLit(v)} OR ($k = ${sqlLit(v)} AND ${gtSql(rest)}))"
      case Nil => "1 = 1"
    }
    def leSql(parts: List[(String, Any)]): String = parts match {
      case (k, v) :: Nil => s"$k <= ${sqlLit(v)}"
      case (k, v) :: rest => s"($k < ${sqlLit(v)} OR ($k = ${sqlLit(v)} AND ${leSql(rest)}))"
      case Nil => "1 = 1"
    }
    ranges.map { case (lo, hi) =>
      val parts = lo.map(b => gtSql(keys.zip(b).toList)).toSeq ++
        hi.map(b => leSql(keys.zip(b).toList))
      if (parts.isEmpty) "1 = 1" else parts.mkString(" AND ")
    }.toArray
  }
}
