package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.QueryPack

/** `query_suite`: the `SparkEntry` queries of the layers no other workload
  * reaches (offsets, types, streaming, relational, ext), over the
  * star-schema test tables staged with the benchmark. Each query's output
  * is collected in full; its row count and an order-independent hash must
  * match the values recorded in `query_suite_expected.txt`. One untimed
  * pass warms the JIT; timed passes repeat for the run's seconds. `elapsed_s` is the median
  * pass (the sum of per-query wall times), `latency_p50_ms` the median over
  * queries of each query's median time, `latency_p99_ms` the nearest-rank
  * p99 over every timed query run.
  *
  * The input is fixed test data, so `--seed` does not change it.
  */
object QuerySuite {

  /** Suite part (the `suite.<part>_s` metric), its query pack, and which of
    * the pack's queries run: whole packs for offsets, types, relational and
    * layout; the streaming queries of the source pack (the micro-batch
    * stream and `graft.cdc.streaming`'s Kafka envelope); ext and
    * curation queries ROADMAP names (IVF-PQ search shares the PQ fit and is
    * left out for the run's time).
    */
  val parts: Seq[(String, QueryPack, String => Boolean)] = Seq(
    ("offsets", graft.cdc.offsets.OffsetQueries, _ => true),
    ("types", graft.cdc.types.TypeQueries, _ => true),
    ("streaming", graft.cdc.source.SourceQueries,
      Set("kafka_envelope_roundtrip", "microbatch_stream_materialize")),
    ("relational", graft.relational.RelationalQueries, _ => true),
    ("ext", graft.ext.ExtQueries, Set("similarity_pq_search", "dedup_ngram_jaccard_prefix",
      "dedup_ngram_jaccard_capped", "dedup_semantic")),
    ("curation", graft.ext.CurationQueries,
      Set("corpus_train_quality_probe", "corpus_token_budget_mix")),
    ("layout", graft.ext.LayoutQueries, _ => true))

  final case class Query(part: String, name: String, run: (SparkSession, String) => DataFrame)

  val queries: Seq[Query] =
    for ((p, pack, runs) <- parts; (name, f) <- pack.queries.toSeq.sortBy(_._1) if runs(name))
      yield Query(p, name, f)

  /** Queries reported one by one (`query.<name>_s`): those picked out of a pack. */
  val named: Seq[String] = queries.filter(q => Set("ext", "curation")(q.part)).map(_.name)

  /** Row count and multiset hash of a collected result. Floating-point
    * values are rounded to 9 significant digits: partial sums may merge in
    * any order.
    */
  def observed(rows: Array[Row]): Checksum = {
    val c = new Checksum
    rows.foreach(r => c.add(canonical(r)))
    c
  }

  private def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
    case f: Float => canonical(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case x => x.toString
  }

  /** `name rows hash` per line; the values of a query that has none or
    * changed on purpose are in the run log's `WRONG` line for it.
    */
  def readExpected(p: Path): Map[String, (Long, Long)] =
    Files.readString(p).split('\n').filter(_.nonEmpty).map { l =>
      val Array(n, rows, sum) = l.split(' ')
      n -> (rows.toLong, java.lang.Long.parseUnsignedLong(sum, 16))
    }.toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.args.data.getOrElse(throw new IllegalArgumentException("missing --data"))
    // tiny: the first query of each part
    val qs = if (ctx.tiny) queries.filter(q => queries.find(_.part == q.part).contains(q)) else queries
    val expected = readExpected(ctx.args.expected.getOrElse(
      throw new IllegalArgumentException("missing --expected")))

    /** One pass: wall ms of each query's collect, and its checksum. */
    def pass(traced: Boolean): Seq[(Query, Double, Checksum)] = qs.map { q =>
      val t0 = System.nanoTime()
      def body(): Array[Row] = q.run(spark, data.toString).collect()
      val rows = if (traced) ctx.tracer.span(s"query.${q.name}")(body()) else body()
      (q, (System.nanoTime() - t0) / 1e6, observed(rows))
    }

    def check(got: Seq[(Query, Double, Checksum)]): Unit =
      for ((q, _, c) <- got) {
        val w = expected.get(q.name)
        val ok = w.exists { case (n, s) => c.count == n && (c.sum == s) != ctx.args.corrupt }
        ctx.check(q.name, ok, f"got ${q.name} ${c.count}%d ${c.sum}%016x want " +
          w.fold("nothing")(x => f"${x._1}%d ${x._2}%016x"))
      }

    // ---- set-up: one warm pass, checked ------------------------------------
    ctx.op("warm pass")(pass(traced = false)).foreach { got =>
      for ((q, ms, _) <- got) ctx.log(f"warm ${q.part}%-10s ${q.name}%-44s $ms%8.1f ms")
      check(got)
    }
    ctx.metric("setup_s", ctx.sinceJvmStart(), "s")

    // ---- timed: whole passes until the run's seconds are used ---------------
    val passes = mutable.ArrayBuffer.empty[Seq[(Query, Double, Checksum)]]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // at least one pass; a failed pass ends the loop
    var n = 0
    while (n == 0 || (System.nanoTime() < deadline && ctx.failed == 0)) {
      n += 1
      ctx.tracer.run += 1
      ctx.op("pass")(pass(traced = true)).foreach { got =>
        passes += got
        ctx.log(f"pass ${passes.size}: ${got.map(_._2).sum / 1000}%.2f s; " +
          got.map { case (q, ms, _) => s"${q.name} ${ms.round}" }.mkString(", "))
        check(got)
      }
    }

    // ---- metrics ------------------------------------------------------------
    if (passes.nonEmpty) {
      val perQuery = qs.indices.map(i => Stats.median(passes.map(_(i)._2).toSeq))
      ctx.metric("elapsed_s", Stats.median(passes.map(_.map(_._2).sum / 1000).toSeq), "s")
      ctx.metric("latency_p50_ms", Stats.median(perQuery), "ms")
      ctx.metric("latency_p99_ms", Stats.quantile(passes.flatMap(_.map(_._2)).toSeq, 0.99), "ms")
      if (ctx.tracer.on) {
        for ((p, _, _) <- parts; idx = qs.indices.filter(qs(_).part == p) if idx.nonEmpty)
          ctx.metric(s"suite.${p}_s", idx.map(perQuery(_)).sum / 1000, "s")
        for (name <- named; i = qs.indexWhere(_.name == name) if i >= 0)
          ctx.metric(s"query.${name}_s", perQuery(i) / 1000, "s")
      }
    }
  }
}
