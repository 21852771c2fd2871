package graft.ext

import graft.SparkTestBase
import graft.cdc.model.Changelog.table
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Alternate formulations of the ext operators return the same rows: the
  * full-probe IVF-PQ search and the plain PQ search, text-grouped and
  * digest-grouped exact dedup, the novelty gate over a split batch and
  * over the whole batch, and the training pipeline over a doc-disjoint
  * split of its changelog and over the whole log. Where the law ranges
  * over inputs, the inputs are generated: small-vocabulary corpora whose
  * texts are often exact or one-word-off copies of each other, and
  * changelogs with redeliveries, tied offsets, deletes and texts shared
  * across docs.
  */
class FormulationPairsSpec extends SparkTestBase {

  import spark.implicits._

  private def check(prop: Prop, samples: Int): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(samples).withMaxSize(30), prop)
    assert(r.passed, r.status.toString)
  }

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private val textGen: Gen[String] =
    Gen.choose(1, 10).flatMap(Gen.listOfN(_, Gen.oneOf(vocab))).map(_.mkString(" "))

  /** Texts drawn from a pool of three: an exact copy, a copy with one word
    * appended, or a fresh text.
    */
  private def pooledTextGen(pool: Seq[String]): Gen[String] = Gen.frequency(
    2 -> Gen.oneOf(pool),
    1 -> Gen.zip(Gen.oneOf(pool), Gen.oneOf(vocab)).map { case (t, w) => s"$t $w" },
    2 -> textGen)

  /** A documents table with distinct ids in 0..99: index docs (doc_id % 10
    * < 8, the novelty gate's stored corpus) and batch docs (the rest). Batch
    * docs also draw from a pool of their own, so the batch holds copies of
    * each other that the index does not.
    */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    pool <- Gen.listOfN(3, textGen)
    batchPool <- Gen.listOfN(2, textGen)
    index <- Gen.choose(5, 25).flatMap(Gen.pick(_, (0L until 100L).filter(_ % 10 < 8)))
    batch <- Gen.choose(4, 12).flatMap(Gen.pick(_, (0L until 100L).filter(_ % 10 >= 8)))
    indexTexts <- Gen.listOfN(index.size, pooledTextGen(pool))
    batchTexts <- Gen.listOfN(batch.size,
      Gen.frequency(2 -> pooledTextGen(pool), 1 -> Gen.oneOf(batchPool)))
  } yield (index.zip(indexTexts) ++ batch.zip(batchTexts)).toSeq

  /** The corpus as the `documents` table of a fresh data directory, so the
    * shipped queries read it as they read the test data.
    */
  private def stage(corpus: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("formulation_docs").toString
    corpus.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        concat(lit("src"), col("doc_id") % 3).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def query(name: String, dir: String): DataFrame = ExtQueries.queries(name)(spark, dir)

  test("IVF-PQ probing every cell equals the PQ search on the same books") {
    // any books will do (here the unrefined seeds): the law is about the
    // search, not the fit
    val emb = table(spark, sfDir, "embeddings")
    val books = Similarity.pqCodebooks(emb, m = 8, k = 16, iters = 0)
    assert(assertSameRows(
      Similarity.ivfPqTopKWith(emb, nCells = 8, nProbe = 8, books,
        nQueries = 10, k = 5, shortlist = 100),
      Similarity.pqSearchTopK(emb, books, nQueries = 10, k = 5, shortlist = 100)) == 50)

    // generated corpora with repeated vectors, so ADC distances and sims tie
    // at the shortlist and top-k cuts
    val embGen = for {
      n <- Gen.choose(12, 40)
      vecs <- Gen.listOfN(n, Gen.frequency(
        3 -> Gen.listOfN(8, Gen.choose(-4, 4).map(_.toFloat)).suchThat(_.exists(_ != 0f)),
        1 -> Gen.const(Nil)))
      nCells <- Gen.choose(1, 4)
      shortlist <- Gen.choose(2, 8)
    } yield (vecs, nCells, shortlist)
    check(Prop.forAllNoShrink(embGen) { case (vecs, nCells, shortlist) =>
      // an empty slot repeats the previous vector (the first falls back to a unit one)
      val filled = vecs.scanLeft(Seq(1f) ++ Seq.fill(7)(0f))((prev, v) =>
        if (v.isEmpty) prev else v).tail
      val gen = filled.zipWithIndex.map { case (v, i) => (i.toLong, v, i % 2) }
        .toDF("vec_id", "embedding", "label")
      val books = Similarity.pqCodebooks(gen, m = 2, k = 4, iters = 0)
      assertSameRows(
        Similarity.ivfPqTopKWith(gen, nCells, nProbe = nCells, books,
          nQueries = 3, k = 3, shortlist = shortlist),
        Similarity.pqSearchTopK(gen, books, nQueries = 3, k = 3, shortlist = shortlist)) > 0
    }, samples = 2)
  }

  test("property: dedup_exact and dedup_exact_hash state the same (keep_id, dup_cnt) groups") {
    var dupGroups = 0L
    check(Prop.forAllNoShrink(corpusGen) { corpus =>
      val dir = stage(corpus)
      val byText = query("dedup_exact", dir).select(col("keep_id"), col("dup_cnt"))
      dupGroups += byText.where(col("dup_cnt") > 1).count()
      assertSameRows(query("dedup_exact_hash", dir).select(col("keep_id"), col("dup_cnt")),
        byText) == corpus.map(_._2).distinct.size
    }, samples = 8)
    assert(dupGroups > 0, "no generated corpus held a duplicate text")
  }

  test("property: the novelty gate over any split of the batch, unioned, equals gating the whole batch") {
    var admitted, rejected = 0L
    val sampleGen = Gen.zip(corpusGen, Gen.choose(1, 4), Gen.long)
    check(Prop.forAllNoShrink(sampleGen) { case (corpus, parts, salt) =>
      val dir = stage(corpus)
      val whole = query("dedup_novelty_gate", dir)
      val docs = table(spark, dir, "documents")
      val (bands, digests) = Dedup.noveltyIndex(
        docs.where(col("doc_id") % 10 < 8), numHashes = 32, rowsPerBand = 4)
      val batch = docs.where(col("doc_id") % 10 >= 8)
      val part = pmod(xxhash64(col("doc_id"), lit(salt)), lit(parts.toLong))
      val split = (0 until parts).map(p =>
        Dedup.noveltyGate(bands, digests, batch.where(part === p),
          numHashes = 32, rowsPerBand = 4)).reduce(_ unionByName _)
      val n = assertSameRows(split, whole)
      admitted += n
      rejected += corpus.count(_._1 % 10 >= 8) - n
      true
    }, samples = 5)
    assert(admitted > 0 && rejected > 0,
      s"generated batches never exercised both sides: $admitted admitted, $rejected rejected")
  }

  test("property: liveCorpus over any doc-disjoint split of the log, unioned and cut, equals the whole log") {
    val logGen = for {
      pool <- Gen.listOfN(3, textGen)
      nDocs <- Gen.choose(1, 20)
      frames <- Gen.listOf(for {
        doc <- Gen.choose(0L, nDocs.toLong)
        offset <- Gen.choose(0L, 30L)
        op <- Gen.oneOf("c", "u", "d", "r")
        text <- pooledTextGen(pool)
      } yield (offset, doc, op, if (op == "d") "" else text))
      redelivered <- Gen.someOf(frames)
      parts <- Gen.choose(1, 4)
      salt <- Gen.long
      seqLen <- Gen.oneOf(4L, 16L, 128L)
    } yield (frames ++ redelivered, parts, salt, seqLen)
    check(Prop.forAllNoShrink(logGen) { case (frames, parts, salt, seqLen) =>
      val log = frames.toDF("offset", "doc_id", "op", "text")
      val part = pmod(xxhash64(col("doc_id"), lit(salt)), lit(parts.toLong))
      val live = (0 until parts).map(p =>
        TrainingPipeline.liveCorpus(log.where(part === p))).reduce(_ unionByName _)
      assertSameRows(
        TrainingPipeline.epochCut(live, minWords = 3, repLimit = 2, seqLen = seqLen, nShards = 4),
        TrainingPipeline.fromChangelog(log, minWords = 3, repLimit = 2, seqLen = seqLen,
          nShards = 4))
      true
    }, samples = 8)
  }
}
