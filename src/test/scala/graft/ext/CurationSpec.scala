package graft.ext

import graft.SparkTestBase
import graft.cdc.model.Changelog.table
import org.apache.spark.sql.functions._

/** Behavioral coverage of [[Curation]] on hand-built documents: argmax
  * tie-breaks, the <2-word bigram edge, scrub masking/counting, and the
  * composed pipeline vs a hand-computed gate.
  */
class CurationSpec extends SparkTestBase {

  test("repetition stats: deterministic tie-breaks and the 1-word edge") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a a b b c"), // word tie a/b at 2 -> lexicographic 'a'; all bigrams cnt 1 -> 'a a'
      (1L, "solo")       // no bigrams at all
    ).toDF("doc_id", "text")
    val r = Curation.repetitionStats(docs).orderBy("doc_id").collect()
    val d0 = r(0)
    assert(d0.getInt(1) == 5 && d0.getInt(2) == 3)
    assert(d0.getString(3) == "a" && d0.getInt(4) == 2 && d0.getInt(5) == 2)
    assert(d0.getString(6) == "a a" && d0.getInt(7) == 1)
    val d1 = r(1)
    assert(d1.getInt(1) == 1 && d1.getString(3) == "solo")
    assert(d1.isNullAt(6) && d1.getInt(7) == 0)
  }

  test("span corruption: splitmix-gated masks, renumbered sentinels, shuffle-free") {
    val s = spark
    import s.implicits._
    val words = (0 until 12).map(i => s"w$i").mkString(" ")
    val docs = Seq((3L, words)).toDF("doc_id", "text")
    val df = Curation.spanCorruption(docs, spanLen = 2, maskEveryK = 2, seed = 11L)
    // per-document rewrite must be a map-only stage: no exchange anywhere
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    val r = df.collect()(0)
    // replay the gate with the library's own mixer
    def masked(i: Int) =
      java.lang.Math.floorMod(Hashing.mix64(3L * 1048576L + i, 11L), 2L) == 0L
    val spans = (0 until 6).map(i => s"w${2 * i} w${2 * i + 1}")
    var j = 0
    val inp = scala.collection.mutable.ArrayBuffer.empty[String]
    val tgt = scala.collection.mutable.ArrayBuffer.empty[String]
    for (i <- 0 until 6) {
      if (masked(i)) {
        inp += s"<extra_id_$j>"; tgt += s"<extra_id_$j> ${spans(i)}"; j += 1
      } else inp += spans(i)
    }
    assert(j >= 1 && j < 6) // fixture exercises both branches
    assert(r.getAs[String]("input_text") == inp.mkString(" "))
    assert(r.getAs[String]("target_text") == tgt.mkString(" "))
    assert(r.getAs[Long]("n_masked") == j.toLong)
    assert(r.getAs[Long]("n_spans") == 6L)
  }

  test("FIM transform: coin + split points replay the library mixer, PSM order") {
    val s = spark
    import s.implicits._
    val docs = (0L until 8L).map(d => (d, (0 until 9).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val df = Curation.fimTransform(docs, seed = 23L)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = df.orderBy("doc_id").collect()
    var applied = 0
    for (r <- rows) {
      val d = r.getLong(0)
      val coin = java.lang.Math.floorMod(Hashing.mix64(d, 23L), 2L) == 0L
      assert(r.getBoolean(1) == coin)
      val p1 = java.lang.Math.floorMod(Hashing.mix64(d, 24L), 10L)
      val p2 = java.lang.Math.floorMod(Hashing.mix64(d, 25L), 10L)
      val (lo, hi) = (math.min(p1, p2), math.max(p1, p2))
      assert(r.getLong(3) == lo && r.getLong(4) == hi)
      val ws = (0 until 9).map(i => s"t$i")
      if (coin) {
        applied += 1
        val expect = s"<fim_prefix> ${ws.take(lo.toInt).mkString(" ")}" +
          s" <fim_suffix> ${ws.drop(hi.toInt).mkString(" ")}" +
          s" <fim_middle> ${ws.slice(lo.toInt, hi.toInt).mkString(" ")}"
        assert(r.getString(2) == expect)
      } else assert(r.getString(2) == ws.mkString(" "))
    }
    assert(applied >= 1 && applied < rows.length) // both branches exercised
  }

  test("scrub masks emails then urls and counts matches") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "mail bob@x.com or sue.q+1@mail.example.org visit https://x.com/a_b now"),
      (1L, "no pii here")
    ).toDF("doc_id", "text")
    val r = Curation.scrubPii(docs).orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 2 && r(0).getInt(2) == 1)
    assert(r(0).getString(3) == "mail <EMAIL> or <EMAIL> visit <URL> now")
    assert(r(1).getInt(1) == 0 && r(1).getInt(2) == 0)
    assert(r(1).getString(3) == "no pii here")
  }

  test("tokenBudgetMix: strict prefix per source, budget monotonicity, window equality") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d", "web"),   // 4 toks, score(len)=7
      (2L, "a b c d e f", "web"),   // 6 toks, score 11 -> ranked first
      (3L, "a b", "web"),   // 2 toks, score 3
      (4L, "x y z", "code"),  // 3 toks, score 5
      (5L, "x", "code"),  // 1 tok, score 1
      (6L, "q r s t u v w x y z a", "tiny")  // 11 toks > tiny's budget
    ).toDF("doc_id", "text", "source")
    val budgets = Seq(("web", 10L), ("code", 100L), ("tiny", 5L))
      .toDF("source", "budget_tokens")
    val r = Curation.tokenBudgetMix(docs, budgets, length(col("text")))
      .orderBy("source", "cum_toks").collect()
      .map(x => (x.getString(1), x.getLong(0), x.getLong(3)))
    // web: doc2 (cum 6), then doc1 (cum 10 == budget, kept); doc3 would hit 12 -> cut
    // code: both fit; tiny: first doc already over budget -> empty source
    assert(r.toSeq == Seq(("code", 4L, 3L), ("code", 5L, 4L), ("web", 2L, 6L), ("web", 1L, 10L)))
    // monotone in the budget: raising web's budget only adds docs
    val r2 = Curation.tokenBudgetMix(docs,
      Seq(("web", 12L), ("code", 100L), ("tiny", 5L)).toDF("source", "budget_tokens"),
      length(col("text"))).collect().map(_.getLong(0)).toSet
    assert(r.map(_._2).toSet.subsetOf(r2))
    // distributed decomposition == a plain per-source window on wider data
    val wide = (0L until 500L).map { i =>
      (i, (0 to (i % 7).toInt).map(j => s"w$j").mkString(" "), s"s${i % 5}")
    }.toDF("doc_id", "text", "source")
    val wb = (0 until 5).map(i => (s"s$i", 40L + 20L * i)).toDF("source", "budget_tokens")
    val dist = Curation.tokenBudgetMix(wide, wb, length(col("text")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(length(col("text")).desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ref = wide
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_toks", sum(col("n_toks")).over(w))
      .join(wb, Seq("source")).where(col("cum_toks") <= col("budget_tokens"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"))
    assert(dist.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
  }

  test("holdoutSplit: exact duplicates always land on the same side; reseed re-deals") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map { i =>
      // every third doc duplicates text "dup<i/3>" so clusters span ids
      val text = if (i % 3 == 0) s"dup ${i % 30}" else s"unique text $i"
      (i, text, s"src${i % 4}")
    }.toDF("doc_id", "text", "source")
    val r = Curation.holdoutSplit(docs, seedTag = "_s7").collect()
    assert(r.length == 200)
    val byText = docs.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    r.groupBy(x => byText(x.getLong(0))).foreach { case (_, rows) =>
      assert(rows.map(_.getString(3)).distinct.length == 1, "duplicate crossed the split")
    }
    val holdout = r.count(_.getString(3) == "holdout")
    assert(holdout > 0 && holdout < 200) // both sides populated at 13/128
    // a different seed tag deals a different split
    val r2 = Curation.holdoutSplit(docs, seedTag = "_s8").collect()
    val m1 = r.map(x => x.getLong(0) -> x.getLong(2)).toMap
    val m2 = r2.map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(m1 != m2)
    intercept[IllegalArgumentException](Curation.holdoutSplit(docs, "_s7", nBuckets = 100))
  }

  test("dsirSelect ranks target-like raw docs first; target and 1-token docs never selected") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (100L, "alpha beta alpha beta", "tgt"), // target slice: grams ab, ba, ab
      (1L, "alpha beta alpha", "raw"),        // shares both target grams -> positive score
      (2L, "zz yy zz", "raw"),                // grams the target never saw -> negative score
      (3L, "solo", "raw")                     // no bigrams: never scored
    ).toDF("doc_id", "text", "source")
    val r = Curation.dsirSelect(docs, targetSource = "tgt", dim = 1024, k = 10).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // target + 1-token absent, order by score
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getLong(2) == 2 && byId(2L).getLong(2) == 2) // n_feats: distinct buckets
    assert(byId(1L).getDouble(3) > 0 && byId(2L).getDouble(3) < 0)
    // k cuts at the score order's top
    val top1 = Curation.dsirSelect(docs, "tgt", dim = 1024, k = 1).collect()
    assert(top1.map(_.getLong(0)).toSeq == Seq(1L))
    // dim must be a power of two (bucket = low bits contract)
    intercept[IllegalArgumentException](Curation.dsirSelect(docs, "tgt", dim = 1000, k = 1))
  }

  test("decontaminate counts distinct shared n-grams; short docs never flag") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "q w e r t y")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "z q w e r t k"),                 // shares "q w e r t" once
      (2L, "q w e r t y q w e r t y"),       // both bench grams, repeats count once
      (3L, "no overlap here at all five"),   // zero shared -> absent
      (4L, "tiny doc")                       // < n words -> no grams at all
    ).toDF("doc_id", "text")
    val r = Curation.decontaminate(corpus, bench, n = 5)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("segment dedup keeps first occurrence globally; emptied docs survive") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d"),     // both segments first occurrences
      (1L, "c d a b"),     // both segments already seen -> emptied
      (2L, "a b x y"),     // loses "a b", keeps "x y"
      (3L, "a b c")        // 2 segments: "a b" (dup) and the short tail "c"
    ).toDF("doc_id", "text")
    val r = Curation.segmentDedup(docs, span = 2).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    assert(r.toSeq == Seq(
      (0L, 2L, 2L, "a b c d"),
      (1L, 2L, 0L, ""),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 1L, "c")))
  }

  test("segment dedup == brute-force reference on random small-vocab corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260813L)
    val vocab = Array("a", "b", "c", "d", "e")
    for (round <- 0 until 5) {
      val span = 1 + rnd.nextInt(3)
      val docs = (0L until 40L).map { id =>
        val n = 1 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // driver-side keep-first replay in (doc_id, idx) order
      val seen = scala.collection.mutable.Set[String]()
      val expected = docs.map { case (id, text) =>
        val segs = text.split(" ").grouped(span).map(_.mkString(" ")).toSeq
        val kept = segs.filter(seen.add)
        (id, segs.size.toLong, kept.size.toLong, kept.mkString(" "))
      }
      val got = Curation.segmentDedup(docs.toDF("doc_id", "text"), span)
        .orderBy("doc_id").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      assert(got.toSeq == expected, s"round $round span $span")
    }
  }

  test("stratified sample: zero and full rates, determinism, nesting") {
    val s = spark
    import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 2}", s"doc $i"))
      .toDF("doc_id", "source", "text")
    def rates(ppm0: Long, ppm1: Long) =
      Seq(("src0", ppm0), ("src1", ppm1)).toDF("source", "keep_ppm")
    val zeroFull = Curation.stratifiedSample(docs, rates(0L, 1000000L), seed = 9L)
      .collect()
    assert(zeroFull.forall(_.getString(1) == "src1") && zeroFull.length == 100)
    val a = Curation.stratifiedSample(docs, rates(400000L, 400000L), seed = 9L)
      .collect().map(_.getLong(0)).toSet
    val b = Curation.stratifiedSample(docs, rates(400000L, 400000L), seed = 9L)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 200)
    // nested samples: raising the rate only ADDS documents
    val wider = Curation.stratifiedSample(docs, rates(700000L, 700000L), seed = 9L)
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider) && wider.size > a.size)
    // unknown source falls back to defaultPpm
    val other = Seq((999L, "srcX", "stray")).toDF("doc_id", "source", "text")
    assert(Curation.stratifiedSample(other, rates(0L, 0L), seed = 9L).isEmpty)
    assert(Curation.stratifiedSample(
      other, rates(0L, 0L), seed = 9L, defaultPpm = 1000000L).count() == 1L)
  }

  test("hashed linear score == driver-side replay of the same model") {
    val s = spark
    import s.implicits._
    val dim = 8
    val docs = Seq((0L, "a b a c"), (1L, "b")).toDF("doc_id", "text")
    val weights = (0 until dim).map(b => (b.toLong, (b * 10 - 30).toLong))
      .toDF("bucket", "w")
    val wMap = (0 until dim).map(b => b.toLong -> (b * 10 - 30).toLong).toMap
    def bucket(tok: String): Long = {
      val h = TextAnalysis.fnv1a64(tok)
      ((h % dim) + dim) % dim
    }
    val expected = Map(
      0L -> (4L, Seq("a", "b", "a", "c").map(t => wMap(bucket(t))).sum),
      1L -> (1L, wMap(bucket("b"))))
    val r = Curation.hashedLinearScore(docs, weights, dim).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == expected)
  }

  test("decontaminate composes under Structured Streaming (stream-static join)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val bench = Seq((100L, "q w e r t y")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "z q w e r t k"),
      (2L, "q w e r t y q w e r t y"),
      (3L, "no overlap here at all five"))

    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Curation.decontaminate(stream.toDS().toDF("doc_id", "text"), bench, n = 5)
      .writeStream.format("memory").queryName("decon_sink")
      .outputMode("complete").start()
    // two micro-batches: the streaming agg must accumulate across them
    stream.addData(corpus.take(1)); q.processAllAvailable()
    stream.addData(corpus.drop(1)); q.processAllAvailable()
    val streamed = spark.table("decon_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()

    val batch = Curation.decontaminate(corpus.toDF("doc_id", "text"), bench, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((1L, 1L), (2L, 2L)))
  }

  test("pipeline == hand-computed gate incl. keeper dedup and repetition cut") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 6 distinct words: passes length (>=3) and repetition (1*3 <= 6); no
      // profile trigram hits -> 'unk'
      (0L, "w1 w2 w3 w4 w5 w6", "A"),
      // 'the' x3 of 7 words: 3*3 > 7 -> repetition cut
      (1L, "the cat and the dog runs the", "A"),
      // exact duplicates: only doc 2 (min doc_id) survives; 'the' x2 of 6
      // words passes 2*3 <= 6; en trigram hits (the, and, ing in 'king')
      (2L, "data and the king the queen", "B"),
      (3L, "data and the king the queen", "B")
    ).toDF("doc_id", "text", "source")
    val r = Curation.pipeline(docs, minWords = 3, repLimit = 3)
      .orderBy("source").collect()
    assert(r.length == 2)
    assert(r(0).getString(0) == "A" && r(0).getString(1) == "unk"
      && r(0).getLong(2) == 1L && r(0).getLong(3) == 6L)
    assert(r(1).getString(0) == "B" && r(1).getString(1) == "en"
      && r(1).getLong(2) == 1L && r(1).getLong(3) == 6L)
  }

  test("packSequences tiles every doc and fills every sequence except the last") {
    val s = spark
    import s.implicits._
    // token counts 3, 1, 5, 2, 4 against seqLen 4: doc 2 straddles seqs
    // 1-2, doc 4 straddles 2-3; total 15 tokens -> last seq holds 3
    val docs = Seq(
      (10L, "a b c"), (11L, "d"), (12L, "e f g h i"),
      (13L, "j k"), (14L, "l m n o")
    ).toDF("doc_id", "text")
    val m = Curation.packSequences(docs, seqLen = 4L)
      .orderBy("doc_id", "seq_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val expected = Seq(
      (10L, 3L, 0L, 0L, 0L, 3L),
      (11L, 1L, 0L, 0L, 3L, 1L),
      (12L, 5L, 1L, 0L, 0L, 4L), (12L, 5L, 2L, 4L, 0L, 1L),
      (13L, 2L, 2L, 0L, 1L, 2L),
      (14L, 4L, 2L, 0L, 3L, 1L), (14L, 4L, 3L, 1L, 0L, 3L))
    assert(m.toSeq == expected)
    // invariants: spans tile each doc exactly; each sequence fills to
    // seqLen except the global last
    val byDoc = m.groupBy(_._1)
    for ((_, spans) <- byDoc) {
      assert(spans.map(_._6).sum == spans.head._2)
      val sorted = spans.sortBy(_._3)
      assert(sorted.head._4 == 0L)
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray))
        assert(b._4 == a._4 + a._6)
    }
    val bySeq = m.groupBy(_._3).view.mapValues(_.map(_._6).sum).toMap
    val lastSeq = bySeq.keys.max
    for ((sq, tot) <- bySeq)
      assert(if (sq == lastSeq) tot == 3L else tot == 4L, s"seq $sq total $tot")
  }

  test("packSequences == single-window formulation on real docs") {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, sfDir, "documents")
    val got = Curation.packSequences(docs, seqLen = 2048L)
      .orderBy("doc_id", "seq_id").collect().map(_.toSeq).toSeq
    // reference: the same arithmetic off a plain global-window cumsum
    // (fine at spec scale; the production path must never plan one)
    val cum = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("cum_end",
        sum(col("n_toks")).over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      .withColumn("seq_id", explode(sequence(
        expr("cum_start div 2048"), expr("(cum_end - 1) div 2048"))))
      .withColumn("span_start", greatest(col("cum_start"), col("seq_id") * 2048L))
      .select(col("doc_id"), col("n_toks"), col("seq_id"),
        (col("span_start") - col("cum_start")).as("doc_tok_start"),
        (col("span_start") - col("seq_id") * 2048L).as("seq_tok_start"),
        (least(col("cum_end"), (col("seq_id") + 1) * 2048L) - col("span_start"))
          .as("span_toks"))
      .orderBy("doc_id", "seq_id").collect().map(_.toSeq).toSeq
    assert(got == cum && got.nonEmpty)
  }

  test("globalShuffle is a seed-keyed permutation matching a driver replay") {
    val docs = table(spark, sfDir, "documents")
    val n = docs.count()
    val got = Curation.globalShuffle(docs, seed = 7L, nShards = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // permutation of 1..n; shard = round-robin on pos
    assert(got.map(_._2).sorted.toSeq == (1L to n).toSeq)
    assert(got.forall { case (_, pos, sh) => sh == (pos - 1) % 16 })
    // replay: rank of mix64(doc_id, 7) with doc_id tiebreak
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val expected = ids.sortBy(id => (Hashing.mix64(id, 7L), id))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    assert(got.forall { case (id, pos, _) => expected(id) == pos })
    // a different seed is a different permutation (epoch reshuffle)
    val other = Curation.globalShuffle(docs, seed = 8L, nShards = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.exists { case (id, pos, _) => other(id) != pos })
  }

  test("vocabCoverage == driver-side replay; vocab boundary ties are stable") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a a b c"),   // df: a->1 (distinct in doc), b->1, c->1
      (1L, "b c d"),     // df: b->2 c->2 d->1
      (2L, "c e")        // c->3
    ).toDF("doc_id", "text")
    // df: c=3, b=2, a=1 d=1 e=1 -> top-3 = c, b, then 'a' (lexicographic
    // among the df=1 tie a/d/e)
    val r = Curation.vocabCoverage(docs, vocabSize = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((0L, 4L, 4L, 0L), (1L, 3L, 2L, 1L), (2L, 2L, 1L, 1L)))
  }

  test("sketchUnion from stored registers == direct sketch of the regrouped corpus") {
    val docs = table(spark, sfDir, "documents")
    def key(r: org.apache.spark.sql.Row) = r.getString(0)
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
        r.getDouble(5), r.getBoolean(6))
    val cols = Seq("source", "n_docs", "present_buckets", "zero_buckets",
      "sum_scaled", "est_raw", "lc_applies").map(col)
    val fromRegs = Curation.sketchUnion(
        Curation.hllRegisters(docs, p = 8),
        concat(lit("union"),
          pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(2L))),
        p = 8).select(cols: _*)
      .collect().map(r => key(r) -> row(r)).toMap
    val direct = Curation.distinctSketch(
        docs.withColumn("source", concat(lit("union"),
          pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(2L)))),
        p = 8).select(cols: _*)
      .collect().map(r => key(r) -> row(r)).toMap
    assert(fromRegs == direct)
    assert(fromRegs.keySet == Set("union0", "union1"))
    // n_docs is conserved by the merge: register n_items sum to the total
    assert(fromRegs.values.map(_._1).sum == docs.where(col("text").isNotNull).count())
  }

  test("hllRegisters merge law: max-merge of shard sketches == whole-corpus sketch") {
    val s = spark
    import s.implicits._
    val docs = (0 until 400).map(i => (i.toLong, s"doc body number $i", "s0"))
      .toDF("doc_id", "text", "source")
    val whole = Curation.hllRegisters(docs, p = 8)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    val half = (n: Int) => Curation
      .hllRegisters(docs.where(col("doc_id") % 2 === n), p = 8)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    val (a, b) = (half(0), half(1))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))).toMap
    assert(merged == whole)
  }

  test("distinctSketch: accuracy within HLL error bars, branches, estimate consistency") {
    val s = spark
    import s.implicits._
    // 2000 distinct texts duplicated 3x each -> distinct count is 2000
    val docs = (0 until 6000)
      .map(i => (i.toLong, s"unique content line ${i % 2000}", "s0"))
      .toDF("doc_id", "text", "source")
    val r = Curation.distinctSketch(docs, p = 8).collect().head
    val est = r.getAs[Double]("estimate")
    assert(r.getAs[Long]("n_docs") == 6000L)
    // sigma ~ 1.04/sqrt(256) ~ 6.5%; allow 4 sigma
    assert(math.abs(est - 2000.0) / 2000.0 < 0.26, s"estimate $est vs 2000")
    // 2000 >> 2.5*256: raw branch, and then estimate == est_raw exactly
    assert(!r.getAs[Boolean]("lc_applies"))
    assert(est == r.getAs[Double]("est_raw"))
    // sparse corpus -> linear-counting branch, est below raw
    val sparse = (0 until 40).map(i => (i.toLong, s"rare $i", "s0"))
      .toDF("doc_id", "text", "source")
    val r2 = Curation.distinctSketch(sparse, p = 8).collect().head
    assert(r2.getAs[Boolean]("lc_applies"))
    val est2 = r2.getAs[Double]("estimate")
    assert(math.abs(est2 - 40.0) / 40.0 < 0.25, s"lc estimate $est2 vs 40")
    // register sum is exact: replay it from the registers themselves
    val regs = Curation.hllRegisters(sparse, p = 8)
      .collect().map(_.getInt(2))
    val exact = regs.map(x => BigInt(2).pow(64 - x)).sum +
      BigInt(256 - regs.length) * BigInt(2).pow(64)
    assert(BigInt(r2.getAs[String]("sum_scaled")) == exact)
    intercept[IllegalArgumentException](Curation.distinctSketch(docs, p = 3))
  }

  test("unimaxBudgets: caps bind ascending, surplus flows up, degenerate cases") {
    // caps (epoch 2): a=20, b=60, c=200; budget 120
    // visit a (fair 40 -> capped 20), b (fair (120-20)/2=50 -> capped... 60>50
    // -> 50), c (remaining 50 -> 50)
    val got = Curation.unimaxBudgets(
      Seq("c" -> 100L, "a" -> 10L, "b" -> 30L), totalBudget = 120L, epochCap = 2L)
    assert(got == Seq("a" -> 20L, "b" -> 50L, "c" -> 50L))
    // budget exceeding all caps: every language gets exactly its cap
    val all = Curation.unimaxBudgets(
      Seq("a" -> 10L, "b" -> 30L), totalBudget = 1000L, epochCap = 3L)
    assert(all == Seq("a" -> 30L, "b" -> 90L))
    // cap tie broken by language name, fair share floor-divides
    val tie = Curation.unimaxBudgets(
      Seq("y" -> 5L, "x" -> 5L), totalBudget = 7L, epochCap = 1L)
    assert(tie == Seq("x" -> 3L, "y" -> 4L))
  }

  test("unimaxMix fills each language to its UniMax budget by score order") {
    val s = spark
    import s.implicits._
    // lang L: 3 docs of 4 tokens; lang M: 3 docs of 10 tokens; total 42
    val docs = (0 until 3).map(i =>
        (i.toLong, "a b c d", "L", s"src$i")) ++
      (3 until 6).map(i => (i.toLong, "a b c d e f g h i j", "M", s"src$i"))
    val df = docs.toDF("doc_id", "text", "lang", "source")
    // budget 42*4/5 = 33; caps (epoch 1): L=12, M=30. Visit L: fair 16 ->
    // capped 12; M: remaining 21 -> 21. Fill: L keeps all 3 docs (12 <= 12);
    // M keeps 2 docs (20 <= 21, third would hit 30)
    val r = Curation.unimaxMixFraction(df, 4L, 5L, 1L, length(col("text")))
      .select("lang", "doc_id", "cum_toks", "budget_tokens")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(r.count(_._1 == "L") == 3 && r.count(_._1 == "M") == 2)
    assert(r.filter(_._1 == "L").forall(_._4 == 12L))
    assert(r.filter(_._1 == "M").forall(_._4 == 21L))
  }

  test("bloomDecontaminate: no false negatives, FP surplus vanishes when sized right") {
    val s = spark
    import s.implicits._
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    val bench = docs.where(col("doc_id") % 29 === 0)
    val corpus = docs.where(col("doc_id") % 29 =!= 0)
    val loaded = Curation.bloomDecontaminate(corpus, bench,
        n = 5, mBits = 4096, kHashes = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the Bloom guarantee: every exact hit flags (no false negatives)
    assert(loaded.forall { case (_, bl, ex, fp) => bl >= ex && fp == bl - ex })
    // a filter sized 256x larger makes every false positive vanish here
    val sized = Curation.bloomDecontaminate(corpus, bench,
        n = 5, mBits = 1 << 20, kHashes = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sized.forall { case (bl, ex, fp) => bl == ex && fp == 0L })
    // per-doc exact hits must agree with the exact-join operator
    val exact = Curation.decontaminate(corpus, bench, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = Curation.bloomDecontaminate(corpus, bench, 5, 4096, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(exact.forall { case (d, n) => byDoc(d) == n })
    intercept[IllegalArgumentException](
      Curation.bloomDecontaminate(corpus, bench, 5, mBits = 1000, 2))
  }

  test("lengthQuantiles: exact order statistics, ceil ranks, singleton source") {
    val s = spark
    import s.implicits._
    // src a: lengths 1..5 (docs "w", "w w", ...); src b: a single 3-word doc
    val docs = (1 to 5).map(n => (n.toLong, "a", Seq.fill(n)("w").mkString(" "))) :+
      (9L, "b", "x y z")
    val df = docs.toDF("doc_id", "source", "text")
    val got = Curation.lengthQuantiles(df, Seq((1, 4), (2, 4), (3, 4), (1, 1)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // n=5: ceil(5/4)=2 -> len 2, ceil(10/4)=3 -> len 3, ceil(15/4)=4, 5/1 -> 5
    assert(got(("a", 1, 4)) == (5L, 2L) && got(("a", 2, 4)) == (5L, 3L))
    assert(got(("a", 3, 4)) == (5L, 4L) && got(("a", 1, 1)) == (5L, 5L))
    // the singleton source answers every quantile with its only length
    assert(Seq((1, 4), (2, 4), (3, 4), (1, 1)).forall(q =>
      got(("b", q._1, q._2)) == (1L, 3L)))
    // real corpus: every (source, q) row present, medians within min/max
    val real = Curation.lengthQuantiles(table(spark, sfDir, "documents"))
      .collect()
    val nSources = table(spark, sfDir, "documents")
      .select("source").distinct().count()
    assert(real.length == nSources * 4)
    intercept[IllegalArgumentException](
      Curation.lengthQuantiles(df, Seq((0, 4))))
    intercept[IllegalArgumentException](
      Curation.lengthQuantiles(df, Seq((5, 4))))
  }

  test("cmsHeavyHitters: est >= exact always, overestimates vanish when sized right") {
    val s = spark
    import s.implicits._
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    val grams = Curation.shingleOccurrences(docs, n = 3)
    val exact = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the CMS guarantee at the loaded size: est >= exact for EVERY gram,
    // so every true heavy hitter is admitted (no false negatives)
    val est = Curation.cmsEstimate(
        Curation.cmsCounters(grams, wBits = 12, d = 4),
        grams.select("g"), wBits = 12, d = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    assert(exact.forall { case (g, n) => est(g) >= n })
    val hh = Curation.cmsHeavyHitters(docs, n = 3, minCount = 5L,
        wBits = 12, d = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val trueHh = exact.filter(_._2 >= 5L).keySet
    assert(trueHh.subsetOf(hh.map(_._1).toSet))
    assert(hh.forall { case (g, ex, e, over) =>
      ex == exact(g) && e == est(g) && over == e - ex && e >= 5L })
    // a sketch sized past the vocabulary kills every collision: the
    // admitted set IS the exact heavy-hitter set and cms_over == 0
    val sized = Curation.cmsHeavyHitters(docs, n = 3, minCount = 5L,
        wBits = 20, d = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(sized.map(_._1).toSet == trueHh)
    assert(sized.forall { case (g, ex, over) => ex == exact(g) && over == 0L })
    // a term absent from the corpus estimates 0 through untouched cells
    val unseen = Curation.cmsEstimate(
        Curation.cmsCounters(grams, wBits = 20, d = 4),
        Seq("graft cms probe").toDF("g"), wBits = 20, d = 4)
      .collect()
    assert(unseen.length == 1 && unseen(0).getLong(1) == 0L)
    intercept[IllegalArgumentException](
      Curation.cmsCounters(grams, wBits = 0, d = 4))
  }

  test("cmsCounters merge law: cell-wise sum of shard sketches == whole-corpus sketch") {
    val docs = table(spark, sfDir, "documents").select("doc_id", "text")
    def cells(df: org.apache.spark.sql.DataFrame) =
      Curation.cmsCounters(Curation.shingleOccurrences(df, 3), 12, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(docs)
    val shardA = cells(docs.where(col("doc_id") % 2 === 0))
    val shardB = cells(docs.where(col("doc_id") % 2 =!= 0))
    val merged = (shardA.keySet ++ shardB.keySet).map(k =>
      k -> (shardA.getOrElse(k, 0L) + shardB.getOrElse(k, 0L))).toMap
    assert(merged == whole)
  }

  test("linearProbeFit == driver GD replay bit for bit; probe separates target") {
    val s = spark
    import s.implicits._
    val rows = (0 until 30).map(i =>
        (i.toLong, s"high quality signal phrase document $i content", "tgt")) ++
      (30 until 60).map(i =>
        (i.toLong, s"noise${i} filler junk text${i % 7} assorted words here", "raw"))
    val docs = rows.toDF("doc_id", "text", "source")
    val (dim, iters, lr) = (64, 2, 0.5)
    val fit = Curation.linearProbeFit(docs, "tgt", dim, iters, lr)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fit.size == dim)
    // replay: (doc, y) -> bucket -> bigram count; each step folds a doc's
    // prediction over its buckets ascending and a bucket's gradient over
    // its docs ascending, both from 0.0 — the fit's ordered folds
    val feats = rows.map { case (id, text, src) =>
      val buckets = text.split(" ").sliding(2).map(_.mkString(" "))
        .map(g => Math.floorMod(TextAnalysis.fnv1a64Bytes(g.getBytes("UTF-8")), dim.toLong))
        .toSeq.groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
      (id, if (src == "tgt") 1.0 else 0.0, buckets.toSeq.sortBy(_._1))
    }.sortBy(_._1)
    val w = Array.fill(dim)(0.0)
    for (_ <- 0 until iters) {
      val err = feats.map { case (id, y, bs) =>
        id -> (bs.foldLeft(0.0) { case (acc, (b, c)) => acc + w(b.toInt) * c } - y)
      }.toMap
      val grads = feats.flatMap { case (id, _, bs) => bs.map { case (b, c) => (b, id, c) } }
        .groupBy(_._1).map { case (b, terms) =>
          b -> terms.sortBy(_._2).foldLeft(0.0) { case (acc, (_, id, c)) => acc + err(id) * c }
        }
      for ((b, g) <- grads) w(b.toInt) = w(b.toInt) - lr * g / feats.length
    }
    for (b <- 0 until dim)
      assert(fit(b.toLong) == w(b), s"bucket $b: ${fit(b.toLong)} vs ${w(b)}")
    // driver replay of the scoring pass: the probe must rank target docs up
    def score(text: String): Double =
      text.split(" ").sliding(2).map(_.mkString(" "))
        .map(g => Math.floorMod(TextAnalysis.fnv1a64Bytes(g.getBytes("UTF-8")), 64L))
        .toSeq.groupBy(identity).map { case (b, gs) => fit(b) * gs.size }.sum
    val tgtMean = (0 until 30).map(i =>
      score(s"high quality signal phrase document $i content")).sum / 30
    val rawMean = (30 until 60).map(i =>
      score(s"noise${i} filler junk text${i % 7} assorted words here")).sum / 30
    assert(tgtMean > rawMean + 0.1, s"no separation: $tgtMean vs $rawMean")
    intercept[IllegalArgumentException](
      Curation.linearProbeFit(docs, "tgt", dim = 63, iters = 2, lr = 0.5))
  }

  test("blocklistGate: case-insensitive hits, first-hit order, clean docs kept") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "clean words only here", "s"),
      (1L, "the BADWORD appears once", "s"),
      (2L, "Verboten then badword twice verboten", "s")
    ).toDF("doc_id", "text", "source")
    val r = Curation.blocklistGate(docs, Seq("badword", "Verboten"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(2), Option(x.getString(3)), x.getBoolean(4))).toMap
    assert(r(0L) == ((0, None, true)))
    assert(r(1L) == ((1, Some("badword"), false)))
    assert(r(2L) == ((3, Some("verboten"), false)))
    intercept[IllegalArgumentException](Curation.blocklistGate(docs, Nil))
  }

  test("lengthBatches: pow2 buckets, token/doc caps, singleton fallback") {
    val s = spark
    import s.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // lengths 1,2,3,5,8,9,100 -> buckets 0,1,2,3,3,4,7
    val docs = Seq(1, 2, 3, 5, 8, 9, 100).zipWithIndex
      .map { case (n, i) => (i.toLong, words(n)) }.toDF("doc_id", "text")
    val r = Curation.lengthBatches(docs, maxBatchTokens = 16L, maxBatchDocs = 4L)
      .collect().map(x => x.getLong(0) ->
        (x.getInt(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    // (bucket, padded_len, bucket_rank, batch_idx, batch_docs)
    assert(r(0L) == ((0, 1L, 0L, 0L, 4L)))  // doc cap binds: 16/1 > 4
    assert(r(1L) == ((1, 2L, 0L, 0L, 4L)))
    assert(r(2L) == ((2, 4L, 0L, 0L, 4L)))  // token cap 16/4=4 == doc cap
    // bucket 3 (len 5 and 8): capacity min(4, 16/8) = 2 -> same batch
    assert(r(3L) == ((3, 8L, 0L, 0L, 2L)))
    assert(r(4L) == ((3, 8L, 1L, 0L, 2L)))
    // bucket 4: capacity min(4, 16/16) = 1
    assert(r(5L) == ((4, 16L, 0L, 0L, 1L)))
    // padded 128 > 16 tokens: singleton fallback, not dropped
    assert(r(6L) == ((7, 128L, 0L, 0L, 1L)))
    // batch token budget holds everywhere (except the singleton fallback)
    assert(r.values.filter(_._2 <= 16L).forall(v => v._2 * v._5 <= 16L))
  }

  test("ragChunks: stride tiling, clamped final window, short-doc edge") {
    val s = spark
    import s.implicits._
    val w20 = (0 until 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, w20), (1L, "tiny doc only")).toDF("doc_id", "text")
    val r = Curation.ragChunks(docs, width = 8, stride = 4)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getLong(3)))
    // 20 words, width 8 stride 4 -> chunks start at 0, 4, 8, 12 (12 == 20-8)
    assert(r.count(_._1 == 0L) == 4)
    assert(r.filter(_._1 == 0L).forall(_._3 == 8))
    // short doc: one chunk of its full length
    assert(r.filter(_._1 == 1L).toSeq.map(x => (x._2, x._3)) == Seq((0, 3)))
    // the clamped last window fingerprints the LAST 8 words exactly
    val lastFp = TextAnalysis.fnv1a64Bytes(
      (12 until 20).map(i => s"w$i").mkString(" ").getBytes("UTF-8"))
    assert(r.find(x => x._1 == 0L && x._2 == 3).get._4 == lastFp)
    // stride > width rejected
    intercept[IllegalArgumentException](Curation.ragChunks(docs, 4, 8))
  }
}
