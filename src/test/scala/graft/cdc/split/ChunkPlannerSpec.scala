package graft.cdc.split

import graft.SparkTestBase
import graft.cdc.model.Changelog.table
import graft.cdc.split.KeyedChunkPlanner.{Boundary, compareBoundaries}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property mirror of MySqlChunkSplitterTest: chunk ranges must partition
  * the key space exactly — disjoint and covering, every row in exactly one
  * chunk.
  */
class ChunkPlannerSpec extends SparkTestBase {

  private lazy val customer = table(spark, sfDir, "customer")

  test("iterative uneven ranges are disjoint and cover every key") {
    for (chunkSize <- Seq(7, 64, 1000)) {
      val ranges = ChunkPlanner.unevenChunkRangesIterative(customer, "c_custkey", chunkSize)
      assert(ranges.head._1.isEmpty && ranges.last._2.isEmpty)
      // chained boundaries: each end == next start
      ranges.sliding(2).foreach {
        case Seq((_, Some(e)), (Some(s2), _)) => assert(e == s2)
        case _ => ()
      }
      // every row in exactly one chunk under (start, end] semantics
      val keys = customer.select(col("c_custkey")).collect().map(_.getLong(0))
      for (k <- keys) {
        val n = ranges.count { case (lo, hi) =>
          lo.forall(k > _) && hi.forall(k <= _)
        }
        assert(n == 1, s"key $k in $n chunks (chunkSize=$chunkSize)")
      }
    }
  }

  test("even chunk stats account for every row exactly once") {
    val total = customer.count()
    val sum = ChunkPlanner.evenChunkStats(customer, "c_custkey", 64)
      .agg(org.apache.spark.sql.functions.sum("cnt")).collect()(0).getLong(0)
    assert(sum == total)
  }

  test("non-contiguous PKs (customer.sql-style gaps) split disjoint-covering") {
    // mirrors the reference's ddl/customer.sql deliberately gapped ids
    val s = spark
    import s.implicits._
    val gapped = (Seq(101L, 102L, 103L, 109L, 110L, 111L, 118L, 121L, 123L) ++
      (1000L to 1040L by 7) ++ Seq(2000L, 5000L)).toDF("c_custkey")
    for (chunkSize <- Seq(3, 5)) {
      val ranges = ChunkPlanner.unevenChunkRangesIterative(gapped, "c_custkey", chunkSize)
      val keys = gapped.collect().map(_.getLong(0))
      for (k <- keys) {
        val n = ranges.count { case (lo, hi) => lo.forall(k > _) && hi.forall(k <= _) }
        assert(n == 1, s"key $k in $n chunks")
      }
    }
  }

  test("even/uneven decision follows the reference's factor band") {
    // dense keys: factor ~1.0 -> even
    val dense = ChunkPlanner.distributionFactor(customer, "c_custkey")
      .collect()(0).getAs[Long]("factor_x10000")
    assert(ChunkPlanner.useEvenSplit(dense))
    // sparse synthetic: factor far above upper bound -> uneven
    assert(!ChunkPlanner.useEvenSplit(factorX10000 = 20000000000L))
    // ultra-dense duplicates: factor below lower bound -> uneven
    assert(!ChunkPlanner.useEvenSplit(factorX10000 = 100L))
    // dynamic chunk size floors at 1
    assert(ChunkPlanner.dynamicChunkSize(8096, 1L) == 1L)
    assert(ChunkPlanner.dynamicChunkSize(8096, 10000L) == 8096L)
  }

  test("jdbc partition predicates cover the key space exactly once") {
    val ranges: Seq[(Option[Long], Option[Long])] =
      Seq((None, Some(5L)), (Some(5L), Some(10L)), (Some(10L), None))
    val preds = ChunkPlanner.jdbcPredicates("c_custkey", ranges)
    assert(preds.sameElements(Array(
      "c_custkey < 5", "c_custkey >= 5 AND c_custkey < 10", "c_custkey >= 10")))
    // each predicate used as a JDBC partition WHERE clause: the union of
    // per-partition scans must be the table, with no overlap
    val total = customer.count()
    val sum = preds.map(p =>
      customer.where(org.apache.spark.sql.functions.expr(p)).count()).sum
    assert(sum == total)
    // the degenerate single-chunk plan scans everything
    assert(ChunkPlanner.jdbcPredicates("k", Seq((None, None))).head == "1 = 1")
  }

  test("quantile ranges cover exactly once and are roughly equi-depth") {
    val total = customer.count()
    for (n <- Seq(1, 4, 8)) {
      val ranges = ChunkPlanner.quantileRanges(customer, "c_custkey", n)
      val preds = ChunkPlanner.jdbcPredicates("c_custkey", ranges)
      val counts = preds.map(p =>
        customer.where(org.apache.spark.sql.functions.expr(p)).count())
      assert(counts.sum == total, s"n=$n: cover violated")
      if (n > 1) {
        // uniform keys: every bucket within 2x of ideal depth
        val ideal = total.toDouble / n
        counts.foreach(c => assert(c > ideal / 2 && c < ideal * 2,
          s"n=$n unbalanced: ${counts.mkString(",")}"))
      }
    }
  }

  test("analyze returns min<=max and exact count") {
    val r = ChunkPlanner.analyze(customer, "c_custkey").collect()(0)
    assert(r.getAs[Number]("min_k").longValue <= r.getAs[Number]("max_k").longValue)
    assert(r.getAs[Long]("cnt") == customer.count())
  }

  test("string-keyed iterative ranges are disjoint and cover every key") {
    for (chunkSize <- Seq(64, 300)) {
      val ranges = KeyedChunkPlanner.unevenChunkRangesIterative(
        customer, Seq("c_name"), chunkSize)
      assert(ranges.head._1.isEmpty && ranges.last._2.isEmpty)
      ranges.sliding(2).foreach {
        case Seq((_, Some(e)), (Some(s2), _)) => assert(e == s2)
        case _ => ()
      }
      val names = customer.select(col("c_name")).collect().map(_.getString(0))
      for (k <- names) {
        val n = ranges.count { case (lo, hi) =>
          lo.forall(b => k > b.head.asInstanceOf[String]) &&
            hi.forall(b => k <= b.head.asInstanceOf[String])
        }
        assert(n == 1, s"name $k in $n chunks (chunkSize=$chunkSize)")
      }
    }
  }

  test("composite-keyed iterative ranges are disjoint and cover every tuple") {
    val li = table(spark, sfDir, "lineitem")
    val keys = Seq("l_orderkey", "l_linenumber")
    val ranges = KeyedChunkPlanner.unevenChunkRangesIterative(li, keys, 512)
    assert(ranges.length >= 2, "fixture too small for a meaningful composite split")
    // membership checked THROUGH the Column algebra (tupleGreater/LessEq) so
    // the spec also proves inRange: each row lands in exactly one range
    val keyCols = keys.map(col)
    val flags = ranges.zipWithIndex.map { case ((lo, hi), i) =>
      when(KeyedChunkPlanner.inRange(keyCols, lo, hi), 1).otherwise(0).as(s"r$i")
    }
    val counts = li.select(flags.reduce(_ + _).as("n")).groupBy(col("n")).count().collect()
    assert(counts.length == 1 && counts(0).getInt(0) == 1,
      s"rows not in exactly one range: ${counts.mkString(",")}")
  }

  test("keyed jdbc predicates render lexicographic SQL that covers exactly once") {
    val li = table(spark, sfDir, "lineitem")
    val keys = Seq("l_orderkey", "l_linenumber")
    val ranges = KeyedChunkPlanner.unevenChunkRangesIterative(li, keys, 1024)
    val preds = KeyedChunkPlanner.jdbcPredicates(keys, ranges)
    val total = li.count()
    val sum = preds.map(p => li.where(expr(p)).count()).sum
    assert(sum == total, s"predicates over/under-cover: $sum vs $total\n${preds.mkString("\n")}")
    // string literal escaping
    val sp = KeyedChunkPlanner.jdbcPredicates(
      Seq("name"), Seq((Some(Seq("o'brien")), None)))
    assert(sp.head == "name > 'o''brien'")
    // temporal/decimal keys render typed literals, not bare toString
    val tp = KeyedChunkPlanner.jdbcPredicates(
      Seq("d", "ts", "amt"),
      Seq((Some(Seq(java.sql.Date.valueOf("2024-01-31"),
        java.sql.Timestamp.valueOf("2024-01-31 10:30:00"),
        new java.math.BigDecimal("12.3400"))), None)))
    assert(tp.head.contains("d > DATE '2024-01-31'"))
    assert(tp.head.contains("ts > TIMESTAMP '2024-01-31 10:30:00"))
    assert(tp.head.contains("amt > 12.3400"))
    // unsupported literal types fail loudly instead of leaking unquoted SQL
    intercept[IllegalArgumentException] {
      KeyedChunkPlanner.jdbcPredicates(
        Seq("k"), Seq((Some(Seq(new Object)), None)))
    }
  }

  test("string-key JDBC splitter under the collation contract covers a case-mixed key exactly") {
    // case-mixed VARCHAR key: binary (codepoint) order differs from any
    // case-insensitive collation ('B' < 'a'); Derby's default UCS_BASIC is
    // codepoint order, i.e. the SqlCollation.Binary contract
    val dir = java.nio.file.Files.createTempDirectory("derby_coll").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val names = table(spark, sfDir, "customer").select("c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cased = names.map { case (k, n) =>
      (k, if (k % 2 == 0) n.toUpperCase else n)
    }
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE T (ID BIGINT, CK VARCHAR(64))")
      st.close()
      val ins = conn.prepareStatement("INSERT INTO T VALUES (?, ?)")
      try cased.foreach { case (k, n) =>
        ins.setLong(1, k); ins.setString(2, n); ins.addBatch()
      } finally { ins.executeBatch(); ins.close() }
    } finally conn.close()

    val ranges = ChunkPlanner.unevenChunkRangesJdbcString(
      url, "T", "CK", chunkSize = 64, ChunkPlanner.SqlDialect.Ansi)
    assert(ranges.length >= 3)
    // the contract property: DB-probed boundaries ARE Spark-order
    // boundaries — the Spark-side keyed planner over the same rows agrees
    val s = spark
    import s.implicits._
    val df = cased.toSeq.toDF("id", "CK")
    val sparkRanges = KeyedChunkPlanner
      .unevenChunkRangesIterative(df, Seq("CK"), 64)
      .map { case (lo, hi) =>
        (lo.map(_.head.asInstanceOf[String]), hi.map(_.head.asInstanceOf[String]))
      }
    assert(ranges == sparkRanges,
      s"DB and Spark planners ordered boundaries differently:\n$ranges\nvs\n$sparkRanges")
    // pushed predicates partition the table exactly once
    val preds = ChunkPlanner.jdbcPredicatesString(
      "CK", ranges, ChunkPlanner.SqlCollation.Binary)
    val perChunk = spark.read.jdbc(url, "T", preds, new java.util.Properties())
    assert(perChunk.count() == cased.length)
    assert(perChunk.select("ID").distinct().count() == cased.length)
    // the MySQL/Postgres spellings render through the same contract
    assert(ChunkPlanner.jdbcPredicatesString("k",
      Seq((Some("o'brien"), Some("z"))),
      ChunkPlanner.SqlCollation.MySqlBinary).head ==
      "BINARY k > 'o''brien' AND BINARY k <= 'z'")
    assert(ChunkPlanner.SqlCollation.PostgresC.orderExpr("k") == """k COLLATE "C"""")
  }

  test("window-form keyed ranges agree with the iterative probe on unique keys") {
    // two formulations of the same operator must not drift (round-1 lesson:
    // test every variant): over a unique key the window form's distinct-rank
    // boundaries equal the probe loop's row boundaries exactly
    val chunkSize = 300
    val win = KeyedChunkPlanner.unevenChunkRanges(customer, Seq("c_name"), chunkSize)
      .select(col("split_id"), col("split_start.c_name"), col("split_end.c_name"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .sortBy(_._1)
    val iter = KeyedChunkPlanner
      .unevenChunkRangesIterative(customer, Seq("c_name"), chunkSize)
      .zipWithIndex
      .map { case ((lo, hi), i) =>
        (i.toLong, lo.map(_.head.asInstanceOf[String]), hi.map(_.head.asInstanceOf[String]))
      }
    assert(win.toSeq == iter)
  }

  test("window chain ends with empty (max, None) when chunkSize divides n") {
    val s = spark
    import s.implicits._
    def chainOf(df: DataFrame): Seq[(Option[Long], Option[Long])] =
      df.collect().sortBy(_.getLong(0)).toSeq
        .map(r => (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
    // 12 distinct keys (duplicates of key 5 count once), chunkSize 4:
    // boundaries 4, 8, 12, so the last range starts at the max key
    val twelve = ((1L to 12L) :+ 5L).toDF("k")
    assert(chainOf(ChunkPlanner.unevenChunkRanges(twelve, "k", 4)) == Seq(
      (None, Some(4L)), (Some(4L), Some(8L)), (Some(8L), Some(12L)), (Some(12L), None)))
    // the probe loop stops at the max key instead: no empty tail
    assert(ChunkPlanner.unevenChunkRangesIterative(twelve.distinct(), "k", 4) == Seq(
      (None, Some(4L)), (Some(4L), Some(8L)), (Some(8L), None)))
    // one key more and the window form has no empty tail either
    val thirteen = (1L to 13L).toDF("k")
    assert(chainOf(ChunkPlanner.unevenChunkRanges(thirteen, "k", 4)) == Seq(
      (None, Some(4L)), (Some(4L), Some(8L)), (Some(8L), Some(12L)), (Some(12L), None)))
  }

  test("window-form composite ranges cover every distinct tuple exactly once") {
    val li = table(spark, sfDir, "lineitem")
    val keys = Seq("l_orderkey", "l_linenumber")
    val ranges = KeyedChunkPlanner.unevenChunkRanges(li, keys, 2048)
      .collect()
      .map { r =>
        def b(i: Int): Option[Seq[Any]] =
          if (r.isNullAt(i)) None else Some(r.getStruct(i).toSeq)
        (b(1), b(2))
      }
    val keyCols = keys.map(col)
    val flags = ranges.zipWithIndex.map { case ((lo, hi), i) =>
      when(KeyedChunkPlanner.inRange(keyCols, lo, hi), 1).otherwise(0).as(s"r$i")
    }
    val counts = li.select(keyCols: _*).distinct()
      .select(flags.reduce(_ + _).as("n")).groupBy(col("n")).count().collect()
    assert(counts.length == 1 && counts(0).getInt(0) == 1,
      s"tuples not in exactly one window-form range: ${counts.mkString(",")}")
  }

  test("sampled keyed ranges cover exactly once and are roughly equi-depth") {
    val li = table(spark, sfDir, "lineitem")
    val keys = Seq("l_orderkey", "l_linenumber")
    val keyCols = keys.map(col)
    val total = li.count()
    for (n <- Seq(1, 4, 8)) {
      val ranges = KeyedChunkPlanner.sampledChunkRanges(li, keys, n, fraction = 0.3)
      // cover-exactly-once holds for ANY boundary set by construction
      val flags = ranges.zipWithIndex.map { case ((lo, hi), i) =>
        when(KeyedChunkPlanner.inRange(keyCols, lo, hi), 1).otherwise(0).as(s"r$i")
      }
      val counts = li.select(flags.reduce(_ + _).as("n")).groupBy(col("n")).count().collect()
      assert(counts.length == 1 && counts(0).getInt(0) == 1,
        s"n=$n: rows not in exactly one sampled range")
      if (n > 1) {
        assert(ranges.length > 1, s"n=$n produced a single range on a 30% sample")
        // near-uniform key distribution: sampled buckets within 3x of ideal
        val perRange = ranges.map { case (lo, hi) =>
          li.where(KeyedChunkPlanner.inRange(keyCols, lo, hi)).count()
        }
        val ideal = total.toDouble / ranges.length
        perRange.foreach(c => assert(c < ideal * 3,
          s"n=$n unbalanced: ${perRange.mkString(",")}"))
      }
    }
  }

  test("sample-rate policy takes the reference's three decision branches") {
    import ChunkPlanner.{samplePlan, SamplePlan}
    // below one chunk: single split, no sampling
    assert(samplePlan(sizeInBytes = 100, count = 10, chunkSizeBytes = 1024) ==
      SamplePlan(1, 0L))
    // above chunk size but under the sampling threshold: full sample
    assert(samplePlan(sizeInBytes = 10 * 1024, count = 500, chunkSizeBytes = 1024) ==
      SamplePlan(11, 500L))
    // reference constants: 102400 threshold, 5% rate
    assert(samplePlan(sizeInBytes = 64L << 20, count = 200000,
      chunkSizeBytes = 1L << 20) == SamplePlan(65, 10000L))
    // boundary: exactly at the threshold switches to the rate
    assert(samplePlan(sizeInBytes = 10 * 1024, count = 102400,
      chunkSizeBytes = 1024).numberOfSamples == 5120L)
  }

  test("sample-rate buckets form a covering split chain with capped ends") {
    val docs = graft.cdc.model.Changelog.table(spark, sfDir, "documents")
    val out = ChunkPlanner.sampleRateBuckets(
      docs, "doc_id", org.apache.spark.sql.functions.col("n_chars"),
      chunkSizeBytes = 16384L, samplingThreshold = 300L)
      .orderBy("split_id").collect()
    assert(out.length >= 3, s"expected caps+buckets, got ${out.length}")
    // leading cap: open start, closed at the first bucket's lo
    assert(out.head.isNullAt(2) && !out.head.isNullAt(3))
    // trailing cap: open end
    assert(!out.last.isNullAt(2) && out.last.isNullAt(3))
    // interior buckets chain: each start <= end, ends non-decreasing
    val mids = out.drop(1).dropRight(1)
    mids.foreach(r => assert(r.getLong(2) <= r.getLong(3)))
    mids.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) <= b.getLong(2))
      case _ =>
    }
    // single-chunk collection degenerates to one open split
    val single = ChunkPlanner.sampleRateBuckets(
      docs, "doc_id", org.apache.spark.sql.functions.col("n_chars"),
      chunkSizeBytes = Long.MaxValue)
      .collect()
    assert(single.length == 1 && single(0).isNullAt(2) && single(0).isNullAt(3))
  }

  test("keyed analyze agrees with the Long-path analyze on a single numeric key") {
    val a = ChunkPlanner.analyze(customer, "c_custkey").collect()(0)
    val b = KeyedChunkPlanner.analyze(customer, Seq("c_custkey")).collect()(0)
    assert(b.getStruct(0).getLong(0) == a.getAs[Number]("min_k").longValue)
    assert(b.getStruct(1).getLong(0) == a.getAs[Number]("max_k").longValue)
    assert(b.getLong(2) == a.getAs[Long]("cnt"))
  }

  test("sampleBuckets evaluates its input only inside the rank: no separate count pass") {
    val s = spark
    import s.implicits._
    val acc = spark.sparkContext.longAccumulator("sample_buckets_rows_read")
    val base = (1 to 2000).map(i => (i % 613).toLong).toDF("k").repartition(4)
    // pass-through that counts every row each evaluation of the input reads
    val input = base.mapPartitions(it => it.map { r => acc.add(1); r })(
      org.apache.spark.sql.Encoders.row(base.schema))
    def rowsRead[T](f: => T): (T, Long) = {
      val before = acc.sum; val r = f; (r, acc.sum - before)
    }
    // the rank's own reads: range-boundary sampling plus the one
    // materialization every later step reads from
    val (_, rankOnly) = rowsRead(DistributedRank
      .withGlobalRowNumber(input.select(col("k")), "rn", Seq(col("k"))).count())
    val (out, bucketed) = rowsRead(ChunkPlanner.sampleBuckets(input, "k", 4).collect())
    assert(bucketed == rankOnly)
    assert(out.map(_.getAs[Long]("cnt")).sum == 2000L)
    assert(out.map(_.getAs[Long]("cnt")).toSet == Set(500L))
  }

  test("window-form ranges recompute after every block cached while building them is lost") {
    val sc = spark.sparkContext
    // other suites' cached fixtures share the session: drop only the
    // blocks these calls persisted
    val before = sc.getPersistentRDDs.keySet
    val li = table(spark, sfDir, "lineitem")
    val composite = Seq("l_orderkey", "l_linenumber")
    val byLong = ChunkPlanner.unevenChunkRanges(customer, "c_custkey", 16)
    val byTuple = KeyedChunkPlanner.unevenChunkRanges(li, composite, 256)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
    assert(byLong.collect().toSet ==
      ChunkPlanner.unevenChunkRanges(customer, "c_custkey", 16).collect().toSet)
    assert(byTuple.collect().toSet ==
      KeyedChunkPlanner.unevenChunkRanges(li, composite, 256).collect().toSet)
  }

  /** One generated case: rows (a, b) with a `Long` key `a` spread by a
    * random step (gaps) over a small value range (duplicates, or unique
    * `a` in half the cases), a String `b` from three letters, 0 or 1 rows
    * or up to 30, a chunk size from 1 to past the row count, and the
    * number of input slices.
    */
  private val layouts = for {
    n <- Gen.oneOf(Gen.choose(0, 1), Gen.choose(2, 30))
    span <- Gen.choose(1L, 60L)
    step <- Gen.choose(1L, 1000000L)
    offset <- Gen.choose(-1000L, 1000L)
    as <- Gen.listOfN(n, Gen.choose(0L, span).map(_ * step + offset))
    bs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    unique <- Gen.oneOf(false, true)
    chunk <- Gen.choose(1, n + 3)
    slices <- Gen.choose(1, 4)
  } yield {
    val rows = as.zip(bs)
    (if (unique) rows.distinctBy(_._1) else rows, chunk, slices)
  }

  /** Starts and ends unbounded, each end is the next start, and every key
    * falls in exactly one (start, end] range.
    */
  private def exactCover[B](ranges: Seq[(Option[B], Option[B])], keys: Seq[B],
      lt: (B, B) => Boolean): Boolean =
    ranges.head._1.isEmpty && ranges.last._2.isEmpty &&
      ranges.sliding(2).forall {
        case Seq((_, end), (start, _)) => end.isDefined && end == start
        case _ => true
      } &&
      keys.forall(k => ranges.count { case (lo, hi) =>
        lo.forall(lt(_, k)) && hi.forall(!lt(_, k))
      } == 1)

  /** A window-form frame as its chain, in split_id order (ids 0..n-1). */
  private def windowChain[B](ranges: DataFrame)(v: Any => B): Seq[(Option[B], Option[B])] = {
    val rows = ranges.collect().sortBy(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(0)) == rows.indices.map(_.toLong))
    rows.map(r => (Option(r.get(1)).map(v), Option(r.get(2)).map(v)))
  }

  /** The window form's boundaries are every chunkSize-th distinct key, so
    * when the distinct count is a multiple of chunkSize its last boundary
    * is the max key and it ends with the empty range (max, None); the
    * probe loop stops at the max key instead. Folding that empty range
    * into its predecessor gives the probe loop's chain.
    */
  private def foldEmptyTail[B](w: Seq[(Option[B], Option[B])], maxK: Option[B]) =
    if (w.length > 1 && maxK.isDefined && w.last._1 == maxK)
      w.dropRight(2) :+ ((w(w.length - 2)._1, None))
    else w

  test("property: every chunk chain is a disjoint exact cover, and the Long names equal the keyed names") {
    val s = spark
    import s.implicits._
    val ltLong = (x: Long, y: Long) => x < y
    val ltTuple = (x: Boundary, y: Boundary) => compareBoundaries(x, y) < 0
    val tuple = (v: Any) => v.asInstanceOf[Row].toSeq: Boundary
    val params = SCTest.Parameters.default.withMinSuccessfulTests(20).withWorkers(1)
    val r = SCTest.check(params, Prop.forAllNoShrink(layouts) { case (rows, chunk, slices) =>
      val df = rows.toDF("a", "b").repartition(slices)
      val longKeys = rows.map(_._1)
      val tupleKeys = rows.map { case (a, b) => Seq(a, b): Boundary }
      val composite = Seq("a", "b")
      // the Long names
      val window = windowChain(ChunkPlanner.unevenChunkRanges(df, "a", chunk))(_.asInstanceOf[Long])
      val iter = ChunkPlanner.unevenChunkRangesIterative(df, "a", chunk)
      // the keyed names over the same single key, and over (a, b)
      val keyedWindow = windowChain(KeyedChunkPlanner.unevenChunkRanges(df, Seq("a"), chunk))(tuple)
      val keyedIter = KeyedChunkPlanner.unevenChunkRangesIterative(df, Seq("a"), chunk)
      val tupleWindow = windowChain(KeyedChunkPlanner.unevenChunkRanges(df, composite, chunk))(tuple)
      val tupleIter = KeyedChunkPlanner.unevenChunkRangesIterative(df, composite, chunk)
      val buckets = 1 + chunk % 4
      val sampledLong = KeyedChunkPlanner.sampledChunkRanges(df, Seq("a"), buckets, 0.7)
      val sampledTuple = KeyedChunkPlanner.sampledChunkRanges(df, composite, buckets, 0.7)
      def unwrap(c: Seq[(Option[Boundary], Option[Boundary])]) =
        c.map { case (lo, hi) => (lo.map(_.head), hi.map(_.head)) }
      def plain(v: Any): Any = v match { case r: Row => r.get(0); case x => x }
      val stats = ChunkPlanner.analyze(df, "a").head()
      val keyedStats = KeyedChunkPlanner.analyze(df, Seq("a")).head()
      val maxLong = longKeys.maxOption
      val maxTuple = tupleKeys.reduceOption((x, y) => if (ltTuple(x, y)) y else x)
      val covers = Seq(
        exactCover(window, longKeys, ltLong), exactCover(iter, longKeys, ltLong),
        exactCover(tupleWindow, tupleKeys, ltTuple), exactCover(tupleIter, tupleKeys, ltTuple),
        exactCover(unwrap(sampledLong).map { case (lo, hi) =>
          (lo.map(_.asInstanceOf[Long]), hi.map(_.asInstanceOf[Long])) }, longKeys, ltLong),
        exactCover(sampledTuple, tupleKeys, ltTuple))
      val uniqueLong = longKeys.distinct.length == longKeys.length
      val uniqueTuple = tupleKeys.distinct.length == tupleKeys.length
      (covers.forall(identity) :| s"cover ${covers.mkString(",")}") &&
        ((!uniqueLong || foldEmptyTail(window, maxLong) == iter) :| "window != iterative (Long)") &&
        ((!uniqueTuple || foldEmptyTail(tupleWindow, maxTuple) == tupleIter) :|
          "window != iterative (composite)") &&
        ((unwrap(keyedWindow) == window && unwrap(keyedIter) == iter) :|
          "Long names != keyed names") &&
        ((0 to 2).forall(i => plain(keyedStats.get(i)) == stats.get(i)) :| "analyze differs")
    })
    assert(r.passed, r.status.toString)
  }
}
