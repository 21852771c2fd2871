package graft.ext

import graft.SparkTestBase
import graft.cdc.model.Changelog.table
import org.apache.spark.sql.functions._

/** Behavioral specs for the oracle-less extension operators: LSH recall vs
  * ground truth, simhash/minhash duplicate detection, ANN vs naive cosine,
  * frame reassembly, fingerprint test vectors.
  */
class ExtOpsSpec extends SparkTestBase {

  import spark.implicits._

  test("FNV-1a 64 matches public test vectors") {
    assert(TextAnalysis.fnv1a64("") == 0xcbf29ce484222325L)
    assert(TextAnalysis.fnv1a64("a") == 0xaf63dc4c8601ec8cL)
    assert(TextAnalysis.fnv1a64("foobar") == 0x85944171f73967e8L)
    assert(TextAnalysis.fnv1a64(null) == 0L)
  }

  test("exact duplicates are found by minhash with all bands agreeing") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 10L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s", 10L),
      (3L, "one two three four five six", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.minhashLsh(docs, 32, 4).collect()
    val dup = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(dup.isDefined && dup.get.getLong(2) == 8L) // 32/4 = 8 bands, all agree
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("novelty gate admits only content absent from the stored index") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base, "en", "src0", 10L),
      (1L, "totally different words one two three four five six", "en", "src0", 10L),
      (10L, base, "en", "src1", 10L),                 // exact dup of 0
      (11L, base + " lambda", "en", "src1", 10L),     // near dup of 0 (shared bands)
      (12L, "qq ww ee rr tt yy uu ii oo pp", "en", "src1", 10L) // novel
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val (bands, digests) =
      Dedup.noveltyIndex(docs.where($"doc_id" < 10), 32, 4)
    val out = Dedup.noveltyGate(bands, digests, docs.where($"doc_id" >= 10), 32, 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(12L))
    assert(out(0).getString(1) == "src1" && out(0).getLong(2) == 29L)
    // the near-dup really was caught by the band leg, not the digest leg
    val bandOnly = Dedup.noveltyGate(bands,
      spark.emptyDataset[String].toDF("digest"),
      docs.where($"doc_id" === 11L), 32, 4).collect()
    assert(bandOnly.isEmpty)
  }

  test("caption alignment replays the hashed-BoW cosine against the stored vector") {
    val docs = Seq((7L, "alpha beta alpha", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vec = Array.tabulate(64)(i => (i % 5 - 2).toFloat)
    val emb = Seq((7L, vec.toSeq, 1)).toDF("vec_id", "embedding", "label")
    val r = Multimodal.captionAlign(docs, emb, dim = 64, threshold = 0.0).collect()(0)
    val counts = new Array[Double](64)
    for (w <- Seq("alpha", "beta", "alpha"))
      counts(java.lang.Math.floorMod(TextAnalysis.fnv1a64(w), 64L).toInt) += 1.0
    var dot = 0.0; var t2 = 0.0; var v2 = 0.0
    for (i <- 0 until 64) {
      dot += counts(i) * vec(i).toDouble
      t2 += counts(i) * counts(i); v2 += vec(i).toDouble * vec(i).toDouble
    }
    val expect = dot / (math.sqrt(t2) * math.sqrt(v2))
    assert(r.getLong(0) == 7L)
    assert(math.abs(r.getDouble(1) - expect) < 1e-12)
    assert(r.getBoolean(2) == (expect >= 0.0))
  }

  test("tokenizer fertility aggregates exact per-source token/word/byte sums") {
    val docs = Seq(
      (0L, "the cat sat", "en", "srcA", 11L),  // BPE-ish: the| cat| sat = 3
      (1L, "dogs run", "en", "srcA", 8L),      // dogs| run = 2
      (2L, "a b", "en", "srcB", 3L)            // a| b = 2
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.tokenizerFertility(docs).orderBy("source").collect()
    assert(r(0).getString(0) == "srcA" && r(0).getLong(1) == 2L)
    assert(r(0).getLong(2) == 5L && r(0).getLong(3) == 5L && r(0).getLong(4) == 19L)
    assert(r(0).getDouble(5) == 1.0 && r(0).getDouble(6) == 19.0 / 5)
    assert(r(1).getString(0) == "srcB" && r(1).getLong(2) == 2L &&
      r(1).getLong(3) == 2L && r(1).getDouble(5) == 1.0)
  }

  test("clusterAssign equals the transitive closure (union-find) on generated graphs") {
    // deterministic pseudo-random graphs via the library's own mix64 — three
    // shapes: sparse, chain-heavy (deep components), and dense
    for ((n, m, salt) <- Seq((60, 25, 1L), (80, 79, 2L), (50, 120, 3L))) {
      val edges = (0 until m).map { i =>
        val a = math.floorMod(Hashing.mix64(salt * 1000 + i, 0L), n).toLong
        val b = math.floorMod(Hashing.mix64(salt * 1000 + i, 1L), n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.clusterAssign(docs, pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val keeper = (0 until n).map(i => i.toLong -> {
        // component keeper = min node id in the component
        val root = find(i)
        (0 until n).filter(j => find(j) == root).min.toLong
      }).toMap
      val size = keeper.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val expect = (0 until n).map(i =>
        (i.toLong, keeper(i.toLong), size(keeper(i.toLong)))).toSet
      assert(got == expect, s"mismatch on graph (n=$n, m=$m, salt=$salt)")
    }
  }

  test("clusterAssign collapses a pure chain to one keeper (multi-hop closure)") {
    // path 0-1-2-...-19: no pair (0,19) ever generated, yet one cluster
    val docs = (0L until 20L).toDF("doc_id")
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterAssign(docs, pairs).collect()
    assert(got.forall(_.getLong(1) == 0L))
    assert(got.forall(_.getLong(2) == 20L))
    assert(got.length == 20)
  }

  test("identical docs have simhash hamming 0; disjoint docs don't pair at low threshold") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 10L),
      (2L, "alpha beta gamma delta epsilon zeta", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.simhashPairs(docs, 8).collect()
    assert(pairs.length == 1 && pairs.head.getInt(2) == 0)
  }

  test("brute-force top-k matches naive driver-side cosine on real embeddings") {
    val got = Similarity.bruteForceTopK(table(spark, sfDir, "embeddings"), 3, 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val embs = table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      (qid, qv) <- embs.filter(_._1 < 3)
      ranked = embs.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, s) => (-s, nid) }
        .take(5).zipWithIndex
      ((nid, _), i) <- ranked
    } yield (qid, nid, i + 1)).toSet
    assert(got == expected)
  }

  test("jaccard df-cutoff returns a subset of the exact pairs, equal when unbounded") {
    val docs = table(spark, sfDir, "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.ngramJaccard(docs, 0.5))
    val unbounded = pairs(Dedup.ngramJaccard(docs, 0.5, Long.MaxValue))
    assert(unbounded == exact && exact.nonEmpty)
    // pruning hot words can only lower the estimated jaccard -> subset
    val cut = pairs(Dedup.ngramJaccard(docs, 0.5, maxDf = 20))
    assert(cut.subsetOf(exact))
  }

  test("prefix-filtered jaccard equals the unbounded form cell-for-cell") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
    // the corpus table, plus an adversarial toy corpus: a hot boilerplate
    // word in every doc (prefix filtering MUST still pair through it when
    // a doc has nothing rarer), single-word docs, df ties, and a clone
    // group bigger than any constant df cap
    val toy = (
      (1L to 40L).map(i => (i, "the common boiler plate words here", "en", "s", 10L)) ++
      Seq(
        (41L, "the", "en", "s", 10L),
        (42L, "the", "en", "s", 10L),
        (43L, "the rare1 rare2", "en", "s", 10L),
        (44L, "the rare1 rare2 rare3", "en", "s", 10L),
        (45L, "zeta", "en", "s", 10L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    for (docs <- Seq(table(spark, sfDir, "documents"), toy);
         t <- Seq(0.3, 0.5, 0.8)) {
      val exact = rows(Dedup.ngramJaccard(docs, t))
      val prefix = rows(Dedup.ngramJaccardPrefix(docs, t))
      assert(prefix == exact && exact.nonEmpty,
        s"threshold $t: prefix form diverged from the unbounded form")
    }
  }

  test("embedding-cosine near-dup matches naive within-label pairs") {
    val emb = table(spark, sfDir, "embeddings")
    val got = Dedup.embeddingCosine(emb, 0.35)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val rows = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = (for {
      (ida, la, va) <- rows
      (idb, lb, vb) <- rows
      if la == lb && ida < idb && cos(va, vb) >= 0.35
    } yield (ida, idb)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("cell-refined embedding-cosine is a subset of pure-label pairs with equal sims") {
    val emb = table(spark, sfDir, "embeddings")
    def sims(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = sims(Dedup.embeddingCosine(emb, 0.35))
    val refined = sims(Dedup.embeddingCosineCells(emb, 0.35, nCells = 8))
    assert(refined.nonEmpty && refined.keySet.subsetOf(exact.keySet))
    // the refinement only drops pairs; surviving sims are the same doubles
    refined.foreach { case (k, s) => assert(exact(k) == s) }
    // one cell = no refinement: the two operators agree exactly
    val one = sims(Dedup.embeddingCosineCells(emb, 0.35, nCells = 1))
    assert(one == exact)
  }

  test("semantic dedup matches a driver-side replay of seeds, assignment, pairs") {
    val emb = table(spark, sfDir, "embeddings")
    val nCells = 4
    val got = Dedup.semanticDedup(emb, nCells, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    // sequential left fold, same order as graft_dot
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val seeds = rows.map(_._1)
      .sortBy(id => (Hashing.mix64(id, Similarity.IvfSeedSalt), id))
      .take(nCells).toSet
    val seedRows = rows.filter(r => seeds.contains(r._1))
    val assign = rows.map { case (id, v) =>
      val best = seedRows
        .map { case (cell, cv) => (cell, dot(v, cv) / (nrm(v) * nrm(cv))) }
        .maxBy { case (cell, csim) => (csim, -cell) }
      (id, best._1, v)
    }
    val expected = (for {
      (ida, ca, va) <- assign
      (idb, cb, vb) <- assign
      if ca == cb && ida < idb && dot(va, vb) / (nrm(va) * nrm(vb)) >= 0.2
    } yield (ida, idb, ca)).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("semanticDedupWith refined centroids: pairs are within-cell and sims exact") {
    val emb = table(spark, sfDir, "embeddings")
    val centroids = Similarity.kmeansRefine(emb, nCells = 4, iters = 2)
    val got = Dedup.semanticDedupWith(emb, centroids, threshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.forall { case (a, b, _, sim) => a < b && sim >= 0.2 })
    // cells really come from the refined centroids; sims are exact cosine
    val sims = Similarity.cellSimilaritiesWith(Similarity.normed(emb), centroids)
    val cellOf = Similarity.assignCells(sims).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    for ((a, b, cell, sim) <- got.take(50)) {
      assert(cellOf(a) == cell && cellOf(b) == cell)
      val (va, vb) = (rows(a), rows(b))
      assert(sim == dotd(va, vb) / (math.sqrt(dotd(va, va)) * math.sqrt(dotd(vb, vb))))
    }
  }

  test("kmeans refinement matches a driver-side Lloyd replay; refined IVF works") {
    val emb = table(spark, sfDir, "embeddings")
    val nCells = 4
    val iters = 3
    val got = Similarity.kmeansRefine(emb, nCells, iters)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap

    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val seedIds = rows.map(_._1)
      .sortBy(id => (Hashing.mix64(id, Similarity.IvfSeedSalt), id)).take(nCells)
    var centroids: Map[Long, Array[Double]] =
      seedIds.map(id => id -> rows.find(_._1 == id).get._2).toMap
    for (_ <- 0 until iters) {
      val assigned = rows.map { case (id, v) =>
        val cell = centroids
          .map { case (c, cv) => (c, dot(v, cv) / (nrm(v) * nrm(cv))) }
          .maxBy { case (c, csim) => (csim, -c) }._1
        (cell, id, v)
      }
      // members in ascending vec_id order, each coordinate summed
      // sequentially from 0.0 — the fit's ordered fold
      centroids = centroids.map { case (c, old) =>
        val members = assigned.filter(_._1 == c).sortBy(_._2).map(_._3)
        if (members.isEmpty) c -> old
        else c -> members.transpose.map(xs => xs.foldLeft(0.0)(_ + _) / xs.length).toArray
      }
    }
    assert(got.keySet == centroids.keySet)
    for ((c, cv) <- centroids)
      assert(got(c).toSeq == cv.toSeq, s"cell $c")

    // refined centroids feed the same IVF probe/re-rank path
    val refined = Similarity.kmeansRefine(emb, nCells, iters)
    val topk = Similarity.ivfTopKWith(emb, refined, nProbe = 2, nQueries = 5, k = 3)
      .collect()
    assert(topk.length == 15 && topk.forall(_.getInt(3) <= 3))
  }

  test("PQ encode matches a driver-side argmin replay; ADC top-k has real recall") {
    val emb = table(spark, sfDir, "embeddings")
    val m = 8; val kCodes = 64
    val books = Similarity.pqCodebooks(emb, m, kCodes, iters = 2)
    assert(books.m == m && books.kEff <= kCodes && books.dsub > 0)
    val bookRows = (for (s <- 0 until m; j <- 0 until books.kEff) yield {
      val c = s * books.kEff + j
      ((s, books.codes(j)),
        (books.cvs.slice(c * books.dsub, (c + 1) * books.dsub), books.cvvs(c)))
    }).toMap

    val encoded = Similarity.pqEncode(emb, books)
    assert(encoded.columns.toSeq == Seq("vec_id", "sub", "code"))
    val codes = encoded.collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap

    // driver replay: unit vectors, slices, argmin of cvv - 2*sv.cv with the
    // same sequential-fold dot
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(codes.size == rows.length * m)
    for ((id, v) <- rows) {
      val nrm = math.sqrt(dotd(v, v))
      val ud = v.map(_ / nrm)
      val d = ud.length / m
      for (sub <- 0 until m) {
        val sv = ud.slice(sub * d, sub * d + d)
        val best = bookRows.collect { case ((s, code), (cv, cvv)) if s == sub =>
          (code, cvv - 2.0 * dotd(sv, cv))
        }.minBy { case (code, pd) => (pd, code) }._1
        assert(codes((id, sub)) == best, s"vec $id sub $sub")
      }
    }

    // recall vs exact brute force on the same metric: pure ADC is noisy on
    // these weakly-clustered embeddings (measured 19/50); the shortlist +
    // exact re-rank pipeline recovers full recall (measured 50/50 at
    // shortlist=100) and its sims are exact cosine values
    val nq = 5; val k = 10
    val exactRows = Similarity.bruteForceTopK(emb, nq, k).collect()
    val exact = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqAdcTopK(emb, books, nq, k).collect()
    assert(adc.map(r => (r.getLong(0), r.getInt(2))).distinct.length == nq * k)
    val hits = adc.map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    assert(hits >= (nq * k) / 5, s"ADC recall too low: $hits of ${nq * k}")

    val rr = Similarity.pqSearchTopK(emb, books, nq, k, shortlist = 100).collect()
    val rrPairs = rr.map(r => (r.getLong(0), r.getLong(1)))
    val rrHits = rrPairs.count(exact.contains)
    assert(rrHits >= (nq * k) * 9 / 10, s"rerank recall too low: $rrHits of ${nq * k}")
    // re-ranked sims are exact: equal to brute force wherever pairs agree
    val exactSim = exactRows.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    for (r <- rr; key = (r.getLong(0), r.getLong(1)) if exactSim.contains(key))
      assert(r.getDouble(3) == exactSim(key), s"sim drift at $key")
  }

  test("hard negatives = brute force restricted to cross-label pairs") {
    val emb = table(spark, sfDir, "embeddings")
    val nq = 5; val k = 5
    val got = Similarity.hardNegativesTopK(emb, nq, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    val rows = emb.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def nrm(a: Array[Double]) = math.sqrt(dotd(a, a))
    val labels = rows.map(r => r._1 -> r._3).toMap
    for (qid <- 0L until nq.toLong) {
      val (_, qv, ql) = rows.find(_._1 == qid).get
      val expected = rows
        .filter(r => r._1 != qid && r._3 != ql)
        .map(r => (r._1, r._3, dotd(qv, r._2) / (nrm(qv) * nrm(r._2))))
        .sortBy { case (nid, _, sim) => (-sim, nid) }.take(k)
      val mine = got.filter(_._1 == qid).sortBy(_._4)
      assert(mine.length == k)
      for ((exp, act) <- expected.zip(mine)) {
        assert(act._2 == exp._1 && act._5 == exp._3, s"qid $qid rank ${act._4}")
        assert(labels(act._2) != ql) // never a same-label pair
      }
    }
  }

  test("IVF-PQ respects the cell gate, returns exact sims, and clears the IVF recall bar") {
    val emb = table(spark, sfDir, "embeddings")
    val nq = 5; val k = 10
    val books = Similarity.pqCodebooks(emb, m = 8, k = 64, iters = 2)
    val r = Similarity.ivfPqTopKWith(emb, nCells = 8, nProbe = 4, books,
      nQueries = nq, k = k, shortlist = 100).collect()
    assert(r.length == nq * k)
    // sims are exact cosine (same metric as brute force over all pairs)
    val bfAll = Similarity.bruteForceTopK(emb, nq, 1000000)
      .select("qid", "nid", "sim").collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    for (x <- r)
      assert(x.getDouble(3) == bfAll((x.getLong(0), x.getLong(1))))
    // recall bounded by the nProbe/nCells gate: same >= 50% bar as pure IVF
    // (measured 34/50 at these params)
    val exact = Similarity.bruteForceTopK(emb, nq, k).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val hits = r.map(x => (x.getLong(0), x.getLong(1))).count(exact.contains)
    assert(hits >= (nq * k) / 2, s"IVF-PQ recall too low: $hits of ${nq * k}")
    // the gate is real: every returned neighbor lives in a cell its query
    // probed
    val cellSims = Similarity.cellSimilarities(Similarity.normed(emb), 8)
    val assigned = Similarity.assignCells(cellSims).select("vec_id", "cell").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    val probed = cellSims.where(col("vec_id") < nq).select("vec_id", "cell", "csim")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._3, t._2)).take(4).map(_._2).toSet).toMap
    for (x <- r)
      assert(probed(x.getLong(0)).contains(assigned(x.getLong(1))),
        s"neighbor ${x.getLong(1)} outside probed cells of ${x.getLong(0)}")
  }

  test("LSH candidates are a subset of same-bucket pairs and sims match brute force") {
    val lsh = Similarity.lshTopK(table(spark, sfDir, "embeddings"), 8, 3, 5)
      .select("qid", "nid", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val bf = Similarity.bruteForceTopK(table(spark, sfDir, "embeddings"), 3, 1000000)
      .select("qid", "nid", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (k, s) => assert(math.abs(bf(k) - s) < 1e-12) }
  }

  test("batched PNG decode recovers exact pixel statistics for every doc") {
    val docs = table(spark, sfDir, "documents")
    val decoded = Multimodal.decodeBatched(Multimodal.encodePng(docs), batchSize = 64)
      .collect()
    assert(decoded.length == docs.count())
    assert(decoded.map(_.doc_id).distinct.length == decoded.length)
    // decode is a REAL codec round-trip: px_sum must equal the analytic
    // byte sum of the text the PNG was rendered from
    val expect = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    decoded.foreach { d =>
      val t = expect(d.doc_id)
      assert(d.width == Multimodal.PngWidth)
      assert(d.height == math.max(1, (t.length + 15) / 16))
      assert(d.px_sum == t.iterator.map(_.toInt & 0xff).map(_.toLong).sum,
        s"pixel sum mismatch for doc ${d.doc_id}")
      assert(d.mean_lum == d.px_sum.toDouble / (d.width * d.height))
    }
    // determinism across runs (same JVM encoder + decoder)
    val again = Multimodal.decodeBatched(Multimodal.encodePng(docs), 64).collect()
    assert(again.map(d => (d.doc_id, d.px_sum)).toSet ==
      decoded.map(d => (d.doc_id, d.px_sum)).toSet)
  }

  test("empty payload yields zero frames, not garbage negative indices") {
    val docs = Seq((1L, "", "en", "s", 0L), (2L, "abcd", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.frames(Multimodal.asBinary(docs), 256).collect()
    assert(out.forall(_.getInt(1) >= 0))
    assert(!out.exists(_.getLong(0) == 1L))
    assert(out.count(_.getLong(0) == 2L) == 1)
  }

  test("frameDedup collapses shared aligned windows to the first (doc, idx) keeper") {
    val docs = Seq(
      (5L, "A" * 64 + "tail5", "en", "s", 69L),  // frame0 == doc 7's frame0
      (7L, "A" * 64 + "tail7", "en", "s", 69L),
      (9L, "unique short", "en", "s", 12L),
      (11L, "", "en", "s", 0L)                   // empty: contributes nothing
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Multimodal.frameDedup(Multimodal.asBinary(docs), frameSize = 64).collect()
    val byKeeper = r.map(x =>
      (x.getLong(3), x.getInt(4)) -> (x.getLong(2), x.getInt(1))).toMap
    // the shared 64-byte prefix frame dedups to doc 5 frame 0 with count 2
    assert(byKeeper((5L, 0)) == (2L, 64))
    // every other frame is its own singleton keeper
    assert(byKeeper((5L, 1)) == (1L, 5) && byKeeper((7L, 1)) == (1L, 5))
    assert(byKeeper((9L, 0)) == (1L, 12))
    // doc 7's frame 0 lost the keeper race; the empty doc contributes nothing
    assert(!byKeeper.contains((7L, 0)) && !r.exists(_.getLong(3) == 11L))
    // total frames conserved: sum of dup_cnt == frame count
    assert(r.map(_.getLong(2)).sum ==
      Multimodal.frames(Multimodal.asBinary(docs), 64).count())
  }

  test("segmentNearDup pairs near-identical paragraphs; exact segments agree on all bands") {
    val boiler = "terms of service apply to all content on this"
    val docs = Seq(
      (1L, boiler + " v1 alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, boiler + " v2 one two three four five six seven eight nine ten"),
      (3L, boiler + " v1 other trailing words here make doc three distinct too"),
      (4L, "completely different words with no overlap at all here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.segmentNearDup(docs, span = 10, numHashes = 32, rowsPerBand = 4)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)) -> r.getLong(4)).toMap
    // byte-identical planted segments (docs 1/3, idx 0) agree on ALL 8 bands
    assert(pairs((1L, 0, 3L, 0)) == 8L)
    // near variants (9/10 words shared) pair on SOME but not all bands
    val near = pairs.get((1L, 0, 2L, 0))
    assert(near.isDefined && near.get >= 1L && near.get < 8L,
      s"near-dup segment pair missing or exact: $near")
    // the unrelated doc never pairs
    assert(!pairs.keys.exists(k => k._1 == 4L || k._3 == 4L))
    // tails are all distinct -> only idx-0 segments ever pair
    assert(pairs.keys.forall(k => k._2 == 0 && k._4 == 0))
  }

  test("nfcClean laws: idempotent, control-free, single-spaced, trimmed") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val anyChar = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      1 -> Gen.oneOf('\u0000', '\u0007', '\u001B', '\u007F'),
      1 -> Gen.oneOf('\u0301', '\u0308', 'é', 'Å', ' '))
    val strGen = Gen.listOf(anyChar).map(_.mkString)
    val p = Prop.forAll(strGen) { s =>
      val c = TextAnalysis.nfcClean(s)
      TextAnalysis.nfcClean(c) == c &&                      // idempotent
      !c.exists(ch => ch < ' ' || ch == '\u007F') &&        // no controls survive
      !c.contains("  ") && c == c.trim &&                   // collapsed + trimmed
      c == java.text.Normalizer.normalize(c, java.text.Normalizer.Form.NFC)
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status.toString)
  }

  test("fused shingle expressions equal the composed shingle-array formulation") {
    graft.cdc.types.GraftFunctions.register(spark)
    val docs = table(spark, sfDir, "documents")
    val composed = Dedup.shingleArray(docs).select(col("doc_id"),
      expr("graft_minhash(sh, 32)").as("ms"),
      expr("graft_simhash64(sh)").as("sh64"))
    val fused = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        expr("graft_shingle_minhash(ws, 3, 32)").as("ms"),
        expr("graft_shingle_simhash64(ws, 3)").as("sh64"))
    val c = composed.collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val f = fused.collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(c.keySet == f.keySet && c.nonEmpty)
    c.foreach { case (id, v) => assert(f(id) == v, s"doc $id diverged") }
    // under-length and empty documents follow the slice-clamp semantics too
    val s = spark
    import s.implicits._
    val edge = Seq((1L, "one two"), (2L, ""), (3L, "a b c d")).toDF("doc_id", "text")
    val ce = Dedup.shingleArray(edge).select(col("doc_id"),
      expr("graft_minhash(sh, 8)").as("ms"), expr("graft_simhash64(sh)").as("sh64"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val fe = edge.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr("graft_shingle_minhash(ws, 3, 8)").as("ms"),
        expr("graft_shingle_simhash64(ws, 3)").as("sh64"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(ce == fe)
  }

  test("LSH bucketing adapts to the embedding dimension (not hardcoded 64)") {
    val dim8 = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.lshTopK(dim8, nPlanes = 8, nQueries = 5, k = 3)
      .select("bucket").distinct().count()
    // with 8-dim vectors the hyperplane bits must still discriminate:
    // more than one bucket among the returned neighbors
    assert(out > 1)
  }

  test("recallEval: bounds, agreement with a hand intersection, exhaustive probe == 1.0") {
    val emb = table(spark, sfDir, "embeddings")
    val r = Similarity.recallEval(emb, nCells = 8, nProbe = 3, nQueries = 10, k = 5)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(3))).toMap
    assert(r.size == 10)
    assert(r.values.forall { case (h, rec) =>
      h >= 0 && h <= 5 && rec == h / 5.0 })
    // hand intersection of the two underlying pipelines
    val bf = Similarity.bruteForceTopK(emb, 10, 5).select("qid", "nid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, 8, 3, 10, 5).select("qid", "nid")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val byQ = bf.intersect(ivf).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(r.forall { case (q, (h, _)) => byQ.getOrElse(q, 0L) == h })
    // probing every cell is exhaustive search: recall exactly 1.0
    val full = Similarity.recallEval(emb, nCells = 8, nProbe = 8, nQueries = 5, k = 5)
      .collect().map(_.getDouble(3))
    assert(full.length == 5 && full.forall(_ == 1.0))
  }

  test("IVF top-k achieves high recall vs brute force and sims match exactly") {
    val emb = table(spark, sfDir, "embeddings")
    val ivf = Similarity.ivfTopK(emb, nCells = 8, nProbe = 3, nQueries = 5, k = 5)
      .select("qid", "nid", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val bf = Similarity.bruteForceTopK(emb, 5, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfAll = Similarity.bruteForceTopK(emb, 5, 1000000)
      .select("qid", "nid", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // sims inside probed cells are exact
    ivf.foreach { case (k2, s2) => assert(math.abs(bfAll(k2) - s2) < 1e-12) }
    // recall@5 against true top-5 with 3/8 cells probed on random vectors
    val hit = ivf.map(_._1).count(bf.contains)
    assert(hit >= bf.size / 2, s"recall too low: $hit of ${bf.size}")
  }

  test("frames reassemble to the original payload and count matches ceil(nbytes/256)") {
    val docs = table(spark, sfDir, "documents")
    val bin = Multimodal.asBinary(docs)
    val stats = Multimodal.frames(bin, 256)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("frame_len").as("total"))
      .join(bin.select(col("doc_id"), col("meta.nbytes").as("nbytes")), "doc_id")
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (n, total, nbytes) = (
        r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
        r.getAs[Number](3).longValue)
      assert(n == (nbytes + 255) / 256)
      assert(total == nbytes)
    }
  }

  test("randomProjection: exact signs on basis vectors, JL norm tracking, seed keying") {
    val s = spark
    import s.implicits._
    // basis vector e_k: proj_j = s(j,k) exactly — pin against driver mix64
    val basis = Seq((0L, Array.fill(64)(0f).updated(3, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(basis, outDim = 8, seed = 7L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    (0 until 8).foreach { j =>
      val want = if (Hashing.mix64(j.toLong * 4096 + 3, 7L) < 0) -1.0 else 1.0
      assert(got(j.toLong) == want)
    }
    // real embeddings: one row per (vec, out dim); mean squared coordinate
    // tracks the input norm (JL expectation), deterministic per seed
    val emb = table(spark, sfDir, "embeddings")
    val proj = Similarity.randomProjection(emb, outDim = 16, seed = 7L)
    val n = emb.count()
    assert(proj.count() == n * 16)
    val ratio = proj.groupBy(col("vec_id"))
      .agg(sum(col("value") * col("value")).as("p2"))
      .join(emb.select(col("vec_id"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("v2")), Seq("vec_id"))
      .select(avg(col("p2") / (lit(16.0) * col("v2")))).head.getDouble(0)
    assert(ratio > 0.5 && ratio < 2.0, s"JL norm ratio off: $ratio")
    // a different seed keys a different projection
    val alt = Similarity.randomProjection(basis, outDim = 8, seed = 8L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(alt != got)
  }

  test("cdcIndexDeltas: insert/move/delete deltas; same-cell updates suppressed") {
    // orthogonal snapshot with nCells = corpus size: every vector is a
    // centroid and assigns to itself, so expected cells are hand-readable
    val snap = Seq(
      (1L, Array(1.0, 0, 0, 0)), (2L, Array(0.0, 1, 0, 0)),
      (3L, Array(0.0, 0, 1, 0)), (4L, Array(0.0, 0, 0, 1))
    ).toDF("vec_id", "vd")
    val log = Seq(
      (10L, 1L, "u", Array(0.0, 1, 0, 0)),   // re-embedded ...
      (20L, 1L, "d", Array(0.0, 0, 0, 0)),   // ... then deleted: LWW wins
      (10L, 2L, "d", Array(0.0, 0, 0, 0)),
      (10L, 3L, "u", Array(1.0, 0, 0, 0.1)), // now nearest e1 -> moves 3->1
      (10L, 4L, "u", Array(0.0, 0, 0, 2)),   // same direction -> no-op
      (10L, 9L, "c", Array(0.0, 1, 0, 0.1))  // new doc, nearest e2
    ).toDF("offset", "vec_id", "op", "vd")
    val got = Similarity.cdcIndexDeltas(snap, log, nCells = 4)
      .collect().map { r =>
        r.getLong(0) -> (
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getString(3))
      }.toMap
    assert(got == Map(
      1L -> (Some(1L), None, "delete"),
      2L -> (Some(2L), None, "delete"),
      3L -> (Some(3L), Some(1L), "move"),
      9L -> (None, Some(2L), "insert")))
  }

  test("cdcIndexDeltas: empty log is a fixpoint; deltas hit exactly the affected ids") {
    val snap = ExtQueries.embSnapshot(spark, sfDir)
    val log = ExtQueries.embChangelog(spark, sfDir)
    assert(Similarity.cdcIndexDeltas(snap, log.where(lit(false)), 16).count() == 0)
    val deltas = Similarity.cdcIndexDeltas(snap, log, nCells = 16)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val ids = snap.select("vec_id").as[Long].collect()
    deltas.foreach {
      case (id, "delete") => assert(id % 7 == 4)
      case (id, "move")   => assert(id % 7 == 3)
      case (id, "insert") => assert(id >= 1000000000L && (id - 1000000000L) % 31 == 0)
      case other          => fail(s"unexpected delta $other")
    }
    // every delete and insert fires; moves are bounded by the re-embeds
    assert(deltas.count(_._2 == "delete") == ids.count(_ % 7 == 4))
    assert(deltas.count(_._2 == "insert") == ids.count(_ % 31 == 0))
    assert(deltas.count(_._2 == "move") <= ids.count(_ % 7 == 3))
    assert(deltas.count(_._2 == "move") > 0)
  }

  test("cdcIndexDeltas decomposes: fold log state over any batch split, then diff") {
    // the streaming claim: maintaining last-writer vector state per
    // micro-batch (the upsert-sink semantics), then diffing the final
    // state against the snapshot index, equals the one-shot batch operator
    val snap = ExtQueries.embSnapshot(spark, sfDir)
    val log = ExtQueries.embChangelog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getSeq[Double](3).toArray)).sortBy(_._1)
    val state = scala.collection.mutable.Map[Long, (Long, String, Array[Double])]()
    log.grouped(math.max(1, log.length / 4)).foreach { batch =>
      batch.foreach { case (o, id, op, vd) =>
        if (state.get(id).forall(_._1 < o)) state(id) = (o, op, vd)
      }
    }
    val folded = state.iterator
      .map { case (id, (o, op, vd)) => (o, id, op, vd) }.toSeq
      .toDF("offset", "vec_id", "op", "vd")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getString(3))).toSet
    assert(canon(Similarity.cdcIndexDeltas(snap, folded, 16)) ==
      canon(Similarity.cdcIndexDeltas(snap, ExtQueries.embChangelog(spark, sfDir), 16)))
  }

  test("cdcDedupedCorpus: keeper promotion on delete, group move on update") {
    // hand changelog: docs 1,2,3 share text A (keeper 1); doc 4 is B.
    // Then doc 1 (the keeper) is DELETED -> keeper promotes to 2; doc 3 is
    // UPDATED to text B -> moves groups, where doc 3 < 4 takes the keep.
    val frames = Seq(
      (10L, 1L, "c", "A"), (20L, 2L, "c", "A"), (30L, 3L, "c", "A"),
      (40L, 4L, "c", "B"),
      (50L, 1L, "d", ""), (60L, 3L, "u", "B")
    ).toDF("offset", "doc_id", "op", "text")
    val got = Dedup.cdcDedupedCorpus(frames)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      2L -> (2L, 1L, true),          // promoted keeper of what's left of A
      3L -> (3L, 2L, true),          // moved into B and took its keep
      4L -> (3L, 2L, false)))
  }

  test("cdcDedupedCorpus decomposes: fold state over any batch split, then dedup") {
    // the streaming claim: maintaining last-writer doc state per
    // micro-batch (the upsert-sink semantics) then running the dedup view
    // over the final state equals the one-shot batch operator
    val log = ExtQueries.docsChangelog(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val state = scala.collection.mutable.Map[Long, (Long, String, String)]()
    log.grouped(math.max(1, log.length / 5)).foreach { batch =>
      batch.foreach { case (o, id, op, text) =>
        if (state.get(id).forall(_._1 < o)) state(id) = (o, op, text)
      }
    }
    val folded = state.iterator
      .collect { case (id, (_, op, text)) if op != "d" => (id, op, text) }
      .toSeq.toDF("doc_id", "op", "text")
      .withColumn("offset", col("doc_id")) // any offset: one frame per doc
    val got = Dedup.cdcDedupedCorpus(folded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val want = Dedup.cdcDedupedCorpus(ExtQueries.docsChangelog(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == want)
    // keeper promotion really fired: 'planted dup 5' = {39, 260, 481},
    // keeper 39 is deleted (39 % 7 == 4) -> 260 takes over a group of 2
    assert(want.contains((260L, 260L, 2L, true)))
    assert(want.contains((481L, 260L, 2L, false)))
    assert(!want.exists(_._1 == 39L))
  }
}
