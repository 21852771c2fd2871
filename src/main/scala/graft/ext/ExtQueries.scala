package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, concat, length, lit}
import graft.QueryPack
import graft.cdc.model.Changelog.table

/** Beyond-reference operators for training-data pipelines (SURVEY.md §7.2
  * M6): dedup, similarity search, text analysis, multimodal columns.
  */
object ExtQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(table(s, dir, "documents"), 0.5)),

    // the bounded-recall policy knob: hot words past a constant per-word
    // candidate budget leave the inverted index before the pair join.
    // NOT the exact scale path — a clone group larger than the cap pushes
    // its own shared words past maxDf and sheds real duplicate pairs
    // (measured at sf10: 27% of J>=0.9 pairs survive df<=64); use
    // dedup_ngram_jaccard_prefix when the full pair set is required
    "dedup_ngram_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccard(table(s, dir, "documents"), 0.5,
        maxDf = Dedup.DefaultMaxDf)),

    // the EXACT 100 TB path of word-set Jaccard: AllPairs prefix filtering
    // — only each doc's |d|-ceil(t|d|)+1 globally-rarest words enter the
    // inverted index (zero false negatives by the prefix-filtering lemma),
    // so hot boilerplate words never join; verification intersects the two
    // word ARRAYS in-row per candidate. Output hash-equal to the unbounded
    // dedup_ngram_jaccard (same oracle SQL; ExtOpsSpec pins the equality)
    "dedup_ngram_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPrefix(table(s, dir, "documents"), 0.5)),

    // the 100 TB path of exact dedup: group by a 32-byte digest instead of
    // shuffling full document texts
    "dedup_exact_hash" -> ((s, dir) =>
      table(s, dir, "documents")
        .groupBy(org.apache.spark.sql.functions.sha2(
          org.apache.spark.sql.functions.col("text"), 256).as("text_sha"))
        .agg(org.apache.spark.sql.functions.min("doc_id").as("keep_id"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("dup_cnt"))),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(table(s, dir, "documents"), numHashes = 32, rowsPerBand = 4)),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), maxHamming = 8)),

    // sliding-window exact-substring dedup (Lee et al. suffix-array pass,
    // as n-gram digests): maximal duplicated word spans per document
    "dedup_span_detect" -> ((s, dir) =>
      Dedup.dupSpans(table(s, dir, "documents"), n = 8)),

    // CDC-maintained dedup view: a deterministic documents changelog —
    // every 13th doc INSERTS as one of 17 planted-dup texts, every
    // doc_id%7==3 doc is UPDATED into one of 11 shared buckets (a digest
    // GROUP MOVE), every doc_id%7==4 doc is DELETED (doc 39 is a group
    // keeper, so its delete promotes the next member) — folded to the live
    // corpus and exact-dedup-grouped in one declarative plan
    "dedup_cdc_view" -> ((s, dir) =>
      Dedup.cdcDedupedCorpus(docsChangelog(s, dir))),

    // the FUSED continuous pipeline, batch form: CDC documents changelog →
    // LWW live corpus → exact-dedup keepers → curation gate → sharded
    // sequence-packing manifest. TrainingPipelineSpec proves the streaming
    // composition (exactly-once envelope sink + epoch cut + packStream)
    // equals this across kill/restart and arbitrary micro-batch splits.
    "pipeline_cdc_training_batches" -> ((s, dir) =>
      TrainingPipeline.fromChangelog(docsChangelog(s, dir),
        minWords = 3, repLimit = 2, seqLen = 128L, nShards = 4)),

    // paragraph-level NEAR dedup: every 8th doc gets a planted
    // family-keyed boilerplate: planted docs (doc_id % 8 = 0) group into
    // families of 4 (fam = (doc_id div 8) div 4) and ALTERNATING stem words
    // carry the family tag, so every 3-shingle of the planted span is
    // family-keyed — cross-family planted segments share NO shingles and
    // can never band-collide, keeping planted pair output LINEAR in corpus
    // size (the same bounded-family treatment GenScale's clone buckets
    // apply to whole-document dups; the old 3-global-variant planting made
    // pair output quadratic, 883s of the round-9 sf10 bench total). Within
    // a family the 10th word varies by doc_id % 3: same variant =
    // byte-identical segment, different variant = 9/10-word near dup —
    // both collision legs still exercised.
    "dedup_segment_near" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val f = concat(lit("f"),
        org.apache.spark.sql.functions.expr("(doc_id div 8) div 4"))
      val planted = org.apache.spark.sql.functions.when(
        col("doc_id") % 8 === 0,
        concat(lit("terms of"), f, lit(" service apply"), f, lit(" to all"), f,
          lit(" content on"), f, lit(" this v"), col("doc_id") % 3,
          lit(" "), col("text")))
        .otherwise(col("text"))
      Dedup.segmentNearDup(docs.select(col("doc_id"), planted.as("text")),
        span = 10, numHashes = 32, rowsPerBand = 4)
    }),

    // incremental-ingest novelty gate: the stored index = band postings +
    // digests of docs with doc_id % 10 < 8; the new batch = the rest. A
    // batch doc colliding with any stored band signature (near-dup of
    // indexed content — the planted dup families straddle the 80/20 split)
    // or stored digest is rejected; the remainder is admitted
    "dedup_novelty_gate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val (bands, digests) =
        Dedup.noveltyIndex(docs.where(col("doc_id") % 10 < 8),
          numHashes = 32, rowsPerBand = 4)
      Dedup.noveltyGate(bands, digests, docs.where(col("doc_id") % 10 >= 8),
        numHashes = 32, rowsPerBand = 4)
    }),

    // per-source tokenizer fertility/compression budgeting stats
    "text_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(table(s, dir, "documents"))),

    // pairs -> clusters: the transitive closure that actually dedups a
    // corpus (A~B~C collapses to one keeper even when A~C never paired)
    "dedup_cluster_assign" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.clusterAssign(docs,
        Dedup.minhashLsh(docs, numHashes = 32, rowsPerBand = 4))
    }),

    // label blocking refined by the deterministic semantic cell — the
    // scale-stable form (pure-label blocks grow with the corpus when label
    // cardinality is fixed; the sf1 run measured the quadratic blow-up)
    "dedup_embedding_cosine" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Dedup.embeddingCosineCells(emb, 0.3, nCells = scaledCells(emb, 8))
    }),

    // SemDeDup: cell assignment from the vectors themselves as the
    // blocking key (vs embeddingCosine's given label column). Cells scale
    // with the corpus (see scaledCells) so within-cell pair cost stays
    // linear in n — the SemDeDup regime (~100k cells at 100M points), not
    // a fixed-cell count whose cells grow quadratic.
    "dedup_semantic" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Dedup.semanticDedup(emb, nCells = scaledCells(emb, 16), threshold = 0.44)
    }),

    "similarity_topk_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(table(s, dir, "embeddings"), nQueries = 10, k = 5)),

    // signed (±1) JL projection 64 -> 16 dims: the matrix regenerates
    // cell-by-cell from mix64(j*4096+i, seed) inside codegen — nothing to
    // store or broadcast; sign flips + the order-pinned fold are exact, so
    // every projected coordinate hash-matches the DuckDB replay
    "similarity_random_projection" -> ((s, dir) =>
      Similarity.randomProjection(table(s, dir, "embeddings"),
        outDim = 16, seed = 7L)),

    "similarity_topk_lsh" -> ((s, dir) =>
      Similarity.lshTopK(table(s, dir, "embeddings"), nPlanes = 8, nQueries = 10, k = 5)),

    "similarity_topk_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), nCells = 8, nProbe = 3,
        nQueries = 10, k = 5)),

    // the IVF index MAINTAINED from the embeddings table's own row-image
    // changelog: re-embeds move postings, deletes retract them, new docs
    // insert — only affected postings emitted (same-cell updates suppress)
    "similarity_cdc_index" -> ((s, dir) =>
      Similarity.cdcIndexDeltas(
        embSnapshot(s, dir), embChangelog(s, dir), nCells = 16)),

    // recall@5 of that IVF configuration vs the exhaustive ground truth,
    // computed in-engine (the index-tuning loop's objective)
    "similarity_recall_eval" -> ((s, dir) =>
      Similarity.recallEval(table(s, dir, "embeddings"), nCells = 8,
        nProbe = 3, nQueries = 10, k = 5)),

    // Lloyd-refined centroids through the same probe/re-rank path. The fit
    // is ORDER-DETERMINISTIC (vec_id-ordered folds), so the whole pipeline
    // — fit included — carries a bit-exact DuckDB oracle that unrolls both
    // Lloyd iterations as CTE stages; ExtOpsSpec replays the fit on the
    // driver bit for bit
    "similarity_kmeans_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.ivfTopKWith(emb, Similarity.kmeansRefine(emb, nCells = 8, iters = 2),
        nProbe = 3, nQueries = 10, k = 5)
    }),

    // Product-quantization search end-to-end: codebook fit + encode + ADC
    // shortlist + exact re-rank (the FAISS ADC+refine pipeline), on the
    // order-deterministic codebook fit — hash-oracled end-to-end
    "similarity_pq_search" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.pqSearchTopK(emb, Similarity.pqCodebooks(emb, m = 8, k = 64, iters = 2),
        nQueries = 10, k = 5, shortlist = 100)
    }),

    // the full FAISS IVFADC composition: cell gate + code-only ADC +
    // exact re-rank, on the order-deterministic codebook fit
    "similarity_ivfpq_search" -> ((s, dir) =>
      Similarity.ivfPqTopKWith(table(s, dir, "embeddings"), nCells = 8, nProbe = 3,
        Similarity.pqCodebooks(table(s, dir, "embeddings"), m = 8, k = 64, iters = 2),
        nQueries = 10, k = 5, shortlist = 100)),

    "similarity_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegativesTopK(table(s, dir, "embeddings"), nQueries = 10, k = 5)),

    "text_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(table(s, dir, "documents"))),

    // BM25 keyword retrieval over the corpus; the log-free Robertson idf
    // keeps every score op an IEEE double both engines replay bit-for-bit
    "text_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(table(s, dir, "documents"), bm25Queries(s), k = 10)),

    // two-stage retrieval: BM25 shortlist (kLex=50) re-ranked by exact
    // cosine against the query's embedding (query-by-example: qid = vec_id)
    "text_hybrid_search" -> ((s, dir) =>
      Similarity.hybridSearchTopK(
        table(s, dir, "documents"), table(s, dir, "embeddings"),
        bm25Queries(s), kLex = 50, k = 10)),

    // BPE tokenizer TRAINING (Sennrich-style merge learning) + applying
    // the learned vocab. The merge loop is integer-deterministic (every
    // tie-break total), so the whole learning run IS oracle-able: the
    // oracle unrolls the nMerges iterations as generated DuckDB CTE
    // stages (see bpeLearnStagesSql) and replays the exact greedy rewrite
    "text_bpe_learn" -> ((s, dir) =>
      Bpe.learnMerges(table(s, dir, "documents"), nMerges = 30)),

    "text_bpe_tokenize" -> ((s, dir) =>
      Bpe.learnAndTokenize(table(s, dir, "documents"), nMerges = 20)),

    "text_bpe_token_count" -> ((s, dir) =>
      TextAnalysis.bpeTokenCounts(table(s, dir, "documents"))),

    "text_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(table(s, dir, "documents"))),

    "text_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(table(s, dir, "documents"))),

    "text_lang_id_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgram(table(s, dir, "documents"))),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(table(s, dir, "documents"))),

    // Unicode canonicalization ahead of hash dedup: the corpus is ASCII by
    // construction, so a deterministic probe suffix (decomposed accents,
    // the Angstrom sign, controls, whitespace runs) rides along on every
    // document — both engines build the identical constant, so the NFC +
    // strip + collapse path is exercised end to end, not vacuously
    "text_normalize" -> ((s, dir) => {
      graft.cdc.types.GraftFunctions.register(s)
      table(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_nfc_clean",
            concat(col("text"), lit(NormProbeSuffix))).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")))
    }),

    "text_winnow_fingerprint" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(table(s, dir, "documents"))),

    "text_bigram_freq" -> ((s, dir) =>
      TextAnalysis.bigramFreq(table(s, dir, "documents"), minCount = 5)),

    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frames(Multimodal.asBinary(table(s, dir, "documents")), frameSize = 256)),

    // frame-level exact dedup: 64-byte windows so exact-duplicate docs
    // collapse frame-by-frame while unique docs keep singleton groups
    "multimodal_frame_dedup" -> ((s, dir) =>
      Multimodal.frameDedup(Multimodal.asBinary(table(s, dir, "documents")), frameSize = 64)),

    // REAL image decode: documents rendered to PNG bytes (ImageIO encode),
    // decoded back through the batched ImageIO reader path; the oracle
    // recomputes the pixel statistics analytically from the text bytes
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeBatched(
        Multimodal.encodePng(table(s, dir, "documents")), batchSize = 64).toDF()),

    // caption-media alignment gate (the CLIP-score filter shape): captions
    // paired to media embeddings by id, hashed-BoW text projection vs the
    // stored vector, keep iff cosine >= 0 — both branches populated
    "multimodal_caption_align" -> ((s, dir) =>
      Multimodal.captionAlign(table(s, dir, "documents"),
        table(s, dir, "embeddings"), dim = 64, threshold = 0.0))
  )

  /** DuckDB rendering of [[Similarity]]'s sequential double fold: prepending
    * the 0.0 seed to the per-element products makes `list_reduce` the same
    * left fold Spark's `aggregate` HOF runs, so the doubles match
    * bit-for-bit (verified: 50/50 exact at sf0.01).
    */
  /** Unrolled DuckDB replay of [[Bpe.learnMerges]] — `n` CTE stages, each
    * computing the best pair (freq desc, then (l, r) lexicographic, freq >=
    * minFreq 2) and applying it with the exact greedy left-to-right
    * single-pass semantics of [[Bpe.mergeSyms]].
    *
    * Encoding trick: a word's symbol array is carried as ONE VARCHAR of
    * `\x02sym\x03` units, so applying a merge (l, r) is
    * `replace(s, '\x02l\x03\x02r\x03', '\x02lr\x03')` — SQL `replace` is
    * left-to-right and non-overlapping, which is exactly the fold's
    * hold-back semantics ("a a a a" -> "aa aa", and a merged symbol never
    * chain-matches in the same pass because its trailing \x03 was consumed).
    * \x02/\x03 cannot occur in the corpus (driver documents are ASCII
    * words); \x01 is the never-matching placeholder once learning stops
    * early, which also freezes all later stages — the same early-stop the
    * Scala loop takes. CTEs are MATERIALIZED because each `w{i}` is read
    * twice (pair-count path + rewrite path): default inlining would double
    * the tree per stage.
    */
  private def bpeLearnStagesSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """w0 AS MATERIALIZED (
             |  SELECT word, count(*) AS cnt,
             |    list_reduce(list_prepend('', list_transform(range(1, length(word)+1),
             |      i -> chr(2) || word[i] || chr(3))), (a,b) -> a || b) AS s
             |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |  WHERE length(word) > 0 GROUP BY word)""".stripMargin
    for (i <- 0 until n) {
      sb ++= s""",
        |t$i AS (SELECT cnt, string_split(substring(s, 2, length(s) - 2), chr(3) || chr(2)) AS tl FROM w$i),
        |p$i AS (SELECT cnt, tl, unnest(range(1, len(tl))) AS j FROM t$i),
        |pc$i AS (SELECT tl[j] AS l, tl[j+1] AS r, CAST(sum(cnt) AS BIGINT) AS freq FROM p$i GROUP BY 1, 2),
        |best$i AS MATERIALIZED (SELECT l, r, freq FROM pc$i WHERE freq >= 2 ORDER BY freq DESC, l, r LIMIT 1),
        |b$i AS (SELECT min(l) AS l, min(r) AS r FROM best$i),
        |w${i + 1} AS MATERIALIZED (SELECT w.word, w.cnt,
        |  replace(w.s, chr(2) || coalesce(b.l, chr(1)) || chr(3) || chr(2) || coalesce(b.r, chr(1)) || chr(3),
        |          chr(2) || coalesce(b.l, '') || coalesce(b.r, '') || chr(3)) AS s
        |  FROM w$i w CROSS JOIN b$i b)""".stripMargin
    }
    sb.result()
  }

  /** The fixed retrieval query set shared by the BM25 and hybrid queries. */
  /** SemDeDup cell-count policy: ~1000 vectors per cell, floored. Cells
    * MUST grow with the corpus — with a fixed cell count, per-cell size
    * grows linearly and the within-cell pair join quadratically (the sf10
    * bench measured 20x wall on 10x data at fixed 16 cells); at c = n/1000
    * the assignment stays n·c·d (metadata-sized centroid broadcast) and
    * the pair join is n·1000·d = linear in n. SemDeDup (Abbas et al. 2023)
    * runs the same regime: ~100k cells at 100M points. The count() is a
    * one-scalar planner probe, and the oracle replays the same formula as
    * `greatest(floor, count(*)//1000)`.
    */
  private def scaledCells(emb: DataFrame, floor: Int): Int =
    math.max(floor, (emb.count() / 1000L).toInt)

  private def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, 1, "table"), (1L, 2, "value"), (1L, 3, "hash"),
      (2L, 1, "spark"), (2L, 2, "merge"), (2L, 3, "fast"),
      (3L, 1, "window"), (3L, 2, "sort"), (3L, 3, "key"),
      (4L, 1, "nosuchterm")
    ).toDF("qid", "pos", "term")
  }

  /** The IVF search replay — seed pick via mix64 rank, cell assignment,
    * probe gating, candidate scoring — as a reusable CTE chain ending at
    * `r` (qid, nid, cell, sim, rank). Shared by the top-k oracle and the
    * recall-eval oracle. Expects `e` (normedEmbSql) in scope.
    */
  private lazy val ivfChainSql =
    s"""mx0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu,
       |          ${Similarity.IvfSeedSalt}::UBIGINT AS iu FROM e),
       |mxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix
       |        FROM ${mixChainSql("mx0", "vec_id")}),
       |seeds AS (SELECT e.vec_id AS cell, e.embedding AS cv, e.nrm AS cnrm
       |          FROM mxs JOIN e ON mxs.vec_id = e.vec_id
       |          ORDER BY mxs.mix, e.vec_id LIMIT 8),
       |cs AS (SELECT e.vec_id, e.embedding, e.nrm, s.cell,
       |         ${dotSql("e.embedding", "s.cv")} / (e.nrm * s.cnrm) AS csim
       |       FROM e CROSS JOIN seeds s),
       |assign AS (SELECT vec_id, cell FROM (
       |             SELECT vec_id, cell,
       |               row_number() OVER (PARTITION BY vec_id
       |                                  ORDER BY csim DESC, cell) AS rn
       |             FROM cs) WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnorm, cell FROM (
       |             SELECT vec_id, embedding, nrm, cell,
       |               row_number() OVER (PARTITION BY vec_id
       |                                  ORDER BY csim DESC, cell) AS rn
       |             FROM cs WHERE vec_id < 10) WHERE rn <= 3),
       |cand AS (SELECT p.qid, n.vec_id AS nid, p.cell,
       |           ${dotSql("p.qv", "n.embedding")} / (p.qnorm * n.nrm) AS sim
       |         FROM probes p
       |         JOIN assign a ON p.cell = a.cell
       |         JOIN e n ON a.vec_id = n.vec_id
       |         WHERE p.qid <> n.vec_id),
       |r AS (SELECT qid, nid, cell, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |      FROM cand)""".stripMargin

  private val normedEmbSql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |      (acc, z) -> acc + z)) AS nrm
      |  FROM embeddings)""".stripMargin

  /** The BM25 CTE chain up to `scored` (qid, doc_id, score) — shared by
    * the pure-lexical and hybrid retrieval oracles. Literals are ::DOUBLE
    * so each op is the same IEEE double op Spark runs.
    */
  private val bm25ScoredSql =
    """WITH q AS (SELECT * FROM (VALUES
      |       (1, 1, 'table'), (1, 2, 'value'), (1, 3, 'hash'),
      |       (2, 1, 'spark'), (2, 2, 'merge'), (2, 3, 'fast'),
      |       (3, 1, 'window'), (3, 2, 'sort'), (3, 3, 'key'),
      |       (4, 1, 'nosuchterm')) v(qid, pos, term)),
      |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |      FROM documents),
      |postings AS (SELECT term, doc_id, count(*) AS tf
      |             FROM w GROUP BY term, doc_id),
      |dl AS (SELECT doc_id,
      |              CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM documents),
      |stats AS (SELECT count(*) AS n_docs,
      |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |          FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
      |terms AS (
      |  SELECT q.qid, p.doc_id, q.pos,
      |         ((s.n_docs - f.df + 0.5::DOUBLE) / (f.df + 0.5::DOUBLE)) *
      |           (p.tf * (1.2::DOUBLE + 1.0::DOUBLE)) /
      |           (p.tf + 1.2::DOUBLE *
      |             ((1.0::DOUBLE - 0.75::DOUBLE) +
      |              0.75::DOUBLE * dl.dl / s.avgdl)) AS term_score
      |  FROM q JOIN postings p ON q.term = p.term
      |         JOIN dfq f ON q.term = f.term
      |         JOIN dl ON p.doc_id = dl.doc_id
      |         CROSS JOIN stats s),
      |scored AS (
      |  SELECT qid, doc_id,
      |         list_reduce(list_prepend(0.0::DOUBLE,
      |                                  list(term_score ORDER BY pos)),
      |                     (acc, z) -> acc + z) AS score
      |  FROM terms GROUP BY qid, doc_id)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len($a)+1),
       |        i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |      (acc, z) -> acc + z)""".stripMargin

  /** DuckDB replication of the graft_fnv64 / graft_mix64 hash family, as
    * mod-2^64 unsigned arithmetic (UBIGINT values, UHUGEINT multiplies).
    * Verified bit-exact against [[graft.ext.Hashing.mix64]] and
    * [[TextAnalysis.fnv1a64]] on signed-boundary test vectors.
    */
  /** The dedup_cdc_view changelog fixture — derived from documents with
    * the SAME arithmetic on both engines. Deletes carry text '' (not
    * NULL) so the fold's winner algebra never touches engine null
    * semantics; the delete winner's text is discarded anyway.
    */
  private[graft] def docsChangelog(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.when
    val d0 = table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 13 === 0,
        concat(lit("planted dup "), (col("doc_id") % 17).cast("string")))
        .otherwise(col("text")).as("t0"))
    val ins = d0.select((col("doc_id") * 10).as("offset"), col("doc_id"),
      lit("c").as("op"), col("t0").as("text"))
    val upd = d0.where(col("doc_id") % 7 === 3)
      .select((col("doc_id") * 10 + 5000000L).as("offset"), col("doc_id"),
        lit("u").as("op"),
        concat(lit("shared dup bucket "), (col("doc_id") % 11).cast("string"))
          .as("text"))
    val del = d0.where(col("doc_id") % 7 === 4)
      .select((col("doc_id") * 10 + 5000000L).as("offset"), col("doc_id"),
        lit("d").as("op"), lit("").as("text"))
    ins.unionAll(upd).unionAll(del)
  }

  /** similarity_cdc_index's snapshot: the embeddings table widened to
    * DOUBLE vectors — the corpus the index was built over.
    */
  private[ext] def embSnapshot(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").select(col("vec_id"),
      org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))").as("vd"))

  /** similarity_cdc_index's post-snapshot log — derived from embeddings
    * with the SAME arithmetic on both engines (the docsChangelog pattern):
    * vec_id%7==3 re-embeds (op `u`, vector reversed — "the document was
    * edited and re-encoded"; reversal keeps the norm but moves the
    * direction), vec_id%7==4 deletes (vd ignored by the fold), vec_id%31==0
    * appends a brand-new document (id offset 1e9 keeps new ids disjoint
    * from any bench SF's id range) whose vector is the reversed original.
    */
  private[ext] def embChangelog(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.reverse
    val e = embSnapshot(s, dir)
    val upd = e.where(col("vec_id") % 7 === 3)
      .select((col("vec_id") * 10 + 5000000L).as("offset"), col("vec_id"),
        lit("u").as("op"), reverse(col("vd")).as("vd"))
    val del = e.where(col("vec_id") % 7 === 4)
      .select((col("vec_id") * 10 + 5000000L).as("offset"), col("vec_id"),
        lit("d").as("op"), col("vd"))
    val neu = e.where(col("vec_id") % 31 === 0)
      .select((col("vec_id") * 10 + 6000000L).as("offset"),
        (col("vec_id") + 1000000000L).as("vec_id"),
        lit("c").as("op"), reverse(col("vd")).as("vd"))
    upd.unionAll(del).unionAll(neu)
  }

  private[ext] val U64 = "18446744073709551616"

  /** Probe suffix for text_normalize: tab, decomposed e+acute, a double
    * space, a BEL control islanded in spaces, the Angstrom sign (U+212B,
    * NFC-composes to U+00C5), decomposed o+diaeresis, then VT + CRLF +
    * trailing space to exercise the trim. Kept as ONE constant the Spark
    * literal and the rendered DuckDB expression both derive from.
    */
  private[ext] val NormProbeSuffix =
    "\tcafe\u0301  \u0007 \u212Bngstro\u0308m\u000B\r\n "

  /** Render a Scala string as a DuckDB expression holding the identical
    * codepoints: printable-ASCII runs as quoted literals, everything else
    * as chr(cp) — no reliance on either engine's escape syntax.
    */
  private[ext] def sqlStringExpr(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new StringBuilder
    def flush(): Unit = if (run.nonEmpty) {
      parts += s"'${run.toString.replace("'", "''")}'"; run.clear()
    }
    s.codePoints().forEach { cp =>
      if (cp >= 0x20 && cp < 0x7f) run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** FNV-1a 64 over `col`'s ASCII bytes -> UBIGINT. */
  private[ext] def fnvUSql(col: String): String =
    s"""CAST(list_reduce(
       |    list_prepend(14695981039346656037::HUGEINT,
       |      list_transform(range(1, length($col)+1), i -> ord($col[i])::HUGEINT)),
       |    (acc, b) -> (xor(acc::UBIGINT, b::UBIGINT)::HUGEINT
       |                 * 1099511628211::HUGEINT)
       |                % $U64::HUGEINT) AS UBIGINT)""".stripMargin

  /** mix64(hu, iu): nested selects (not one expression) because each
    * splitmix stage references its input twice — inlining would blow up
    * 2^stages. `src` must provide UBIGINT columns hu, iu plus `keep`.
    */
  private[ext] def mixChainSql(src: String, keep: String): String =
    s"""(SELECT $keep, xor(z2, z2 // 2147483648::UBIGINT) AS zf FROM
       |  (SELECT $keep, CAST((xor(z1, z1 // 134217728::UBIGINT)::UHUGEINT
       |       * 10723151780598845931::UHUGEINT) % $U64::UHUGEINT AS UBIGINT) AS z2 FROM
       |    (SELECT $keep, CAST((xor(z0, z0 // 1073741824::UBIGINT)::UHUGEINT
       |         * 13787848793156543929::UHUGEINT) % $U64::UHUGEINT AS UBIGINT) AS z1 FROM
       |      (SELECT $keep, xor(hu, CAST((iu::UHUGEINT
       |           * 11400714819323198485::UHUGEINT) % $U64::UHUGEINT AS UBIGINT)) AS z0
       |       FROM $src))))""".stripMargin

  /** UBIGINT -> the signed BIGINT Spark's LongType carries. */
  private[ext] def toSignedSql(col: String): String =
    s"""CAST(CASE WHEN $col >= 9223372036854775808::UBIGINT
       |     THEN $col::HUGEINT - $U64::HUGEINT ELSE $col::HUGEINT END AS BIGINT)""".stripMargin

  /** FNV-1a 64 of a string-valued SQL expression, wrapped to the signed
    * BIGINT Spark emits — inline (subquery-free) form usable inside
    * lambdas. `v` names the byte-fold lambda variable; pass a name distinct
    * from any enclosing lambda's to avoid shadowing.
    */
  private def fnvSignedSql(colExpr: String, v: String): String = {
    val fold =
      s"""list_reduce(
         |    list_prepend(14695981039346656037::HUGEINT,
         |      list_transform(range(1, length($colExpr)+1), $v -> ord($colExpr[$v])::HUGEINT)),
         |    (acc, b) -> (xor(acc::UBIGINT, b::UBIGINT)::HUGEINT
         |                 * 1099511628211::HUGEINT) % $U64::HUGEINT)""".stripMargin
    s"""CAST((CASE WHEN $fold >= 9223372036854775808::HUGEINT
       |      THEN $fold - $U64::HUGEINT ELSE $fold END) AS BIGINT)""".stripMargin
  }

  /** Distinct 3-word shingles + FNV base hash — DuckDB mirror of
    * [[Dedup.shingles]] (list_slice clamps exactly like Spark's slice).
    */
  private val shingleHashSql =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        range(0, greatest(len(ws) - 3, 0) + 1),
       |        i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')))) AS shingle
       |       FROM ws),
       |h AS (SELECT doc_id, ${fnvUSql("shingle")} AS hu FROM sh)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the full learning run, unrolled (see bpeLearnStagesSql): each row of
    // the model table is the i-th stage's argmax pair
    "text_bpe_learn" ->
      s"""WITH ${bpeLearnStagesSql(30)}
         |${(0 until 30).map(i =>
              s"""SELECT $i AS step, l AS "left", r AS "right", freq FROM best$i""")
             .mkString("\nUNION ALL\n")}""".stripMargin,

    // 20 learn stages, then the tokenize tail: per-word token counts from
    // the final symbol encoding, joined back to each word occurrence (empty
    // words are absent from w0, so the join drops them — the same filter
    // the Spark side applies before its join)
    "text_bpe_tokenize" ->
      s"""WITH ${bpeLearnStagesSql(20)},
         |wt AS (SELECT word, len(string_split(substring(s, 2, length(s) - 2),
         |                         chr(3) || chr(2))) AS word_toks FROM w20)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(word_toks) AS BIGINT) AS bpe_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
         |JOIN wt USING (word)
         |GROUP BY doc_id""".stripMargin,
    // frame slicing replicated on the VARCHAR side (documents.text is pure
    // ASCII, so 1-based char substring == the binary slice and length() ==
    // octet_length); frame feature = the same FNV-1a fold as text_fingerprint
    "multimodal_frames" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS nbytes
         |           FROM documents WHERE length(text) > 0),
         |f0 AS (SELECT doc_id, unnest(range(0, (nbytes + 255) // 256)) AS frame_idx, text
         |       FROM d),
         |f AS (SELECT doc_id, frame_idx,
         |        substring(text, CAST(frame_idx * 256 + 1 AS INTEGER), 256) AS frame
         |      FROM f0)
         |SELECT doc_id, frame_idx, length(frame) AS frame_len,
         |       ${fnvSignedSql("frame", "fv")} AS feature
         |FROM f""".stripMargin,

    // same frame derivation at 64 bytes, grouped by the digest pair;
    // DuckDB's struct min is the same lexicographic (doc_id, frame_idx)
    // order as Spark's min(struct)
    "multimodal_frame_dedup" ->
      s"""WITH d AS (SELECT doc_id, length(text) AS nbytes, text
         |           FROM documents WHERE length(text) > 0),
         |f0 AS (SELECT doc_id, unnest(range(0, (nbytes + 63) // 64)) AS frame_idx, text
         |       FROM d),
         |f AS (SELECT doc_id, frame_idx,
         |        substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64) AS frame
         |      FROM f0),
         |h AS (SELECT doc_id, frame_idx, length(frame) AS frame_len,
         |             ${fnvSignedSql("frame", "fv")} AS feature
         |      FROM f)
         |SELECT feature, frame_len, count(*) AS dup_cnt,
         |       (min(struct_pack(doc_id := doc_id,
         |                        frame_idx := frame_idx))).doc_id AS keep_doc,
         |       (min(struct_pack(doc_id := doc_id,
         |                        frame_idx := frame_idx))).frame_idx AS keep_idx
         |FROM h GROUP BY feature, frame_len""".stripMargin,

    // pixel layout of the PNG fixture is analytic (one grayscale pixel per
    // ASCII byte, 16 per row, zero padding): width/height/px_sum follow from
    // the text alone; mean is one exact int/int double division
    "multimodal_decode" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         |s AS (SELECT doc_id,
         |        greatest(1, (len + 15) // 16) AS height,
         |        list_reduce(list_prepend(0::BIGINT,
         |          list_transform(range(1, len + 1), i -> ord(text[i])::BIGINT)),
         |          (a, b) -> a + b) AS px_sum
         |      FROM d)
         |SELECT doc_id, 16 AS width, CAST(height AS INTEGER) AS height, px_sum,
         |       px_sum::DOUBLE / (16 * height) AS mean_lum
         |FROM s""".stripMargin,

    // alignment replay: bucket = fnv64(word) mod 64 (power of two, so
    // unsigned == signed pmod); count vector, norms, and the cross dot are
    // all index-order folds — the same IEEE sequence graft_dot runs
    "multimodal_caption_align" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents WHERE text IS NOT NULL),
         |tb AS (SELECT doc_id,
         |         list_transform(ws, w0 ->
         |           CAST(${fnvUSql("w0")} % 64 AS BIGINT)) AS buckets
         |       FROM t),
         |tv AS (SELECT doc_id,
         |         list_transform(range(0, 64),
         |           b -> CAST(len(list_filter(buckets, x -> x = b)) AS DOUBLE))
         |           AS tv
         |       FROM tb),
         |tn AS (SELECT doc_id, tv, sqrt(${dotSql("tv", "tv")}) AS tnrm FROM tv),
         |m AS (SELECT vec_id AS doc_id,
         |             list_transform(embedding, x -> x::DOUBLE) AS vd
         |      FROM embeddings),
         |mn AS (SELECT doc_id, vd, sqrt(${dotSql("vd", "vd")}) AS vnrm FROM m),
         |sel AS (SELECT tn.doc_id,
         |               ${dotSql("tv", "vd")} / (tnrm * vnrm) AS align_score
         |        FROM tn JOIN mn USING (doc_id))
         |SELECT doc_id, align_score, align_score >= 0.0 AS kept FROM sel""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$shingleHashSql,
         |fam AS (SELECT doc_id, t.i AS i, hu, CAST(t.i AS UBIGINT) AS iu
         |        FROM h CROSS JOIN range(32) t(i)),
         |mins AS (SELECT doc_id, i, min(${toSignedSql("zf")}) AS m
         |         FROM ${mixChainSql("fam", "doc_id, i")} GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 4 AS band_id, list(m ORDER BY i) AS sig
         |          FROM mins GROUP BY doc_id, i // 4)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_bands
         |FROM bands x JOIN bands y
         |  ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id
         |GROUP BY 1, 2""".stripMargin,

    // novelty gate: the same band-signature chain computed once over the
    // full corpus, split 80/20 into index and batch; the digest leg joins
    // on raw text (sha-256 equality == text equality absent a collision)
    "dedup_novelty_gate" ->
      s"""$shingleHashSql,
         |fam AS (SELECT doc_id, t.i AS i, hu, CAST(t.i AS UBIGINT) AS iu
         |        FROM h CROSS JOIN range(32) t(i)),
         |mins AS (SELECT doc_id, i, min(${toSignedSql("zf")}) AS m
         |         FROM ${mixChainSql("fam", "doc_id, i")} GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 4 AS band_id, list(m ORDER BY i) AS sig
         |          FROM mins GROUP BY doc_id, i // 4),
         |idxb AS (SELECT DISTINCT band_id, sig FROM bands WHERE doc_id % 10 < 8),
         |nearhit AS (SELECT DISTINCT b.doc_id
         |            FROM bands b JOIN idxb USING (band_id, sig)
         |            WHERE b.doc_id % 10 >= 8),
         |exacthit AS (SELECT doc_id FROM documents
         |             WHERE doc_id % 10 >= 8 AND text IN
         |               (SELECT text FROM documents WHERE doc_id % 10 < 8))
         |SELECT doc_id, source, CAST(strlen(text) AS BIGINT) AS n_bytes
         |FROM documents
         |WHERE doc_id % 10 >= 8
         |  AND doc_id NOT IN (SELECT doc_id FROM nearhit)
         |  AND doc_id NOT IN (SELECT doc_id FROM exacthit)""".stripMargin,

    "text_tokenizer_fertility" ->
      s"""WITH t AS (SELECT source, text,
         |    regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}') AS toks
         |  FROM documents),
         |a AS (SELECT source, count(*) AS n_docs,
         |             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
         |             CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
         |      FROM t GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_words, n_bytes,
         |       CAST(n_tokens AS DOUBLE) / n_words AS fertility,
         |       CAST(n_bytes AS DOUBLE) / n_tokens AS bytes_per_token
         |FROM a""".stripMargin,

    // segment near-dup: the same minhash chain as dedup_minhash_lsh, run
    // over span-10 segments as synthetic units doc_id*2^20+idx; the
    // synthetic order equals the lexicographic (doc, idx) order, so the
    // doc_a < doc_b band join decodes to identical 4-tuples
    "dedup_segment_near" ->
      s"""WITH ftag AS (
         |  SELECT doc_id, text,
         |         'f' || CAST((doc_id // 8) // 4 AS VARCHAR) AS f
         |  FROM documents),
         |aug AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 8 = 0
         |              THEN 'terms of' || f || ' service apply' || f
         |                   || ' to all' || f || ' content on' || f
         |                   || ' this v' || CAST(doc_id % 3 AS VARCHAR)
         |                   || ' ' || text
         |              ELSE text END AS text
         |  FROM ftag),
         |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
         |e AS (SELECT doc_id, ws, unnest(range(0, (len(ws) + 9) // 10)) AS idx
         |      FROM t),
         |segsrc AS (SELECT doc_id * 1048576 + idx AS doc_id,
         |                  list_slice(ws, idx * 10 + 1, idx * 10 + 10) AS ws
         |           FROM e),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |        range(0, greatest(len(ws) - 3, 0) + 1),
         |        i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')))) AS shingle
         |       FROM segsrc),
         |h AS (SELECT doc_id, ${fnvUSql("shingle")} AS hu FROM sh),
         |fam AS (SELECT doc_id, t.i AS i, hu, CAST(t.i AS UBIGINT) AS iu
         |        FROM h CROSS JOIN range(32) t(i)),
         |mins AS (SELECT doc_id, i, min(${toSignedSql("zf")}) AS m
         |         FROM ${mixChainSql("fam", "doc_id, i")} GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 4 AS band_id, list(m ORDER BY i) AS sig
         |          FROM mins GROUP BY doc_id, i // 4)
         |SELECT x.doc_id // 1048576 AS doc_a,
         |       CAST(x.doc_id % 1048576 AS INTEGER) AS idx_a,
         |       y.doc_id // 1048576 AS doc_b,
         |       CAST(y.doc_id % 1048576 AS INTEGER) AS idx_b,
         |       count(*) AS n_bands
         |FROM bands x JOIN bands y
         |  ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // same LSH candidate pairs, then connected components as a STAGED
    // unroll of the exact iteration Dedup.clusterAssign runs: per round a
    // node's label becomes min(own, neighbors' labels, label-of-label).
    // Work per round is linear in |V|+|E| (the earlier recursive-CTE form
    // flooded (node, label) PAIRS — quadratic in clique components, which
    // is what timed out at sf1 on the ~3k-member planted families).
    // 8 rounds: pointer jumping halves label-chain depth per round, and
    // the LSH fixtures converge in ≤5 (measured at sf10); the chk CTE
    // turns non-convergence at a future scale into an explicit
    // 'oracle unconverged' error() instead of a bare hash mismatch
    "dedup_cluster_assign" ->
      s"""$shingleHashSql,
         |fam AS (SELECT doc_id, t.i AS i, hu, CAST(t.i AS UBIGINT) AS iu
         |        FROM h CROSS JOIN range(32) t(i)),
         |mins AS (SELECT doc_id, i, min(${toSignedSql("zf")}) AS m
         |         FROM ${mixChainSql("fam", "doc_id, i")} GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 4 AS band_id, list(m ORDER BY i) AS sig
         |          FROM mins GROUP BY doc_id, i // 4),
         |pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |          FROM bands x JOIN bands y
         |            ON x.band_id = y.band_id AND x.sig = y.sig AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lab FROM documents),
         |${(1 to 8).map { k =>
             // MATERIALIZED is load-bearing: each round references the
             // previous one 3x, so inlining would expand 3^8 scan copies
             s"""l$k AS MATERIALIZED (
                |  SELECT p.id,
                |         least(p.lab, coalesce(nm.m, p.lab), lp.lab) AS lab
                |  FROM l${k - 1} p
                |  LEFT JOIN (SELECT e.dst AS id, min(pl.lab) AS m
                |             FROM edges e JOIN l${k - 1} pl ON pl.id = e.src
                |             GROUP BY e.dst) nm ON nm.id = p.id
                |  JOIN l${k - 1} lp ON lp.id = p.lab)""".stripMargin
           }.mkString(",\n")},
         |chk AS (SELECT count(*) AS n_unconv
         |        FROM l8 a JOIN l7 b ON a.id = b.id AND a.lab <> b.lab),
         |lbl AS (SELECT id,
         |          CASE WHEN (SELECT n_unconv FROM chk) > 0
         |               THEN error('dedup_cluster_assign oracle unconverged: 8 pointer-jumping rounds did not reach a fixpoint at this scale — raise the unroll depth')
         |               ELSE lab END AS keeper_id FROM l8),
         |sz AS (SELECT keeper_id, count(*) AS cluster_size FROM lbl GROUP BY keeper_id)
         |SELECT l.id AS doc_id, l.keeper_id, s.cluster_size
         |FROM lbl l JOIN sz s ON l.keeper_id = s.keeper_id""".stripMargin,

    "dedup_span_detect" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS pos
         |       FROM t WHERE len(w) >= 8),
         |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |             ${fnvSignedSql("array_to_string(w[pos:pos + 7], ' ')", "gv")} AS h
         |      FROM g0),
         |rep AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
         |f AS (SELECT doc_id, pos FROM g JOIN rep USING (h)),
         |i AS (SELECT doc_id, pos,
         |        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
         |             THEN 1 ELSE 0 END AS brk
         |      FROM f),
         |s AS (SELECT doc_id, pos,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |      FROM i)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         |       count(*) AS n_grams
         |FROM s GROUP BY doc_id, island""".stripMargin,

    "dedup_simhash" ->
      s"""$shingleHashSql,
         |bits AS (SELECT doc_id, t.j AS j,
         |           CASE WHEN sum(CASE WHEN (hu >> t.j) & 1::UBIGINT = 1::UBIGINT
         |                              THEN 1 ELSE -1 END) > 0
         |                THEN (1::UBIGINT << t.j) ELSE 0::UBIGINT END AS bitval
         |         FROM h CROSS JOIN range(64) t(j) GROUP BY doc_id, t.j),
         |sh2 AS (SELECT doc_id, CAST(sum(bitval::HUGEINT) AS UBIGINT) AS simhash
         |        FROM bits GROUP BY doc_id),
         |chunks AS (SELECT doc_id, simhash, t.c AS c,
         |             (simhash >> CAST(16 * t.c AS INTEGER)) & 65535::UBIGINT AS chunk
         |           FROM sh2 CROSS JOIN range(4) t(c)),
         |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |            x.simhash AS sa, y.simhash AS sb
         |          FROM chunks x JOIN chunks y
         |            ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 8""".stripMargin,

    // the hyperplane component range is derived from the corpus's own max
    // embedding length (not a hardcoded dim) so the oracle tracks the Spark
    // side, which sizes each plane from the vector itself
    "similarity_topk_lsh" ->
      s"""WITH dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
         |p0 AS (SELECT t1.i AS i, t2.j AS j, CAST(t1.i AS UBIGINT) AS hu,
         |              CAST(t2.j AS UBIGINT) AS iu
         |            FROM (SELECT unnest(range((SELECT d FROM dims))) AS i) t1
         |            CROSS JOIN range(8) t2(j)),
         |signs AS (SELECT j, list(CASE WHEN zf & 1::UBIGINT = 0::UBIGINT
         |                              THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END
         |                         ORDER BY i) AS sgn
         |          FROM ${mixChainSql("p0", "i, j")} GROUP BY j),
         |proj AS (SELECT e.vec_id, s.j,
         |           list_reduce(list_prepend(0.0::DOUBLE,
         |             list_transform(range(1, len(e.embedding)+1),
         |               i -> e.embedding[i]::DOUBLE * s.sgn[i])),
         |             (acc, z) -> acc + z) AS p
         |         FROM embeddings e CROSS JOIN signs s),
         |buck AS (SELECT vec_id,
         |           CAST(sum(CASE WHEN p > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
         |         FROM proj GROUP BY vec_id),
         |e AS (SELECT b.vec_id, emb.embedding, b.bucket,
         |        sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(emb.embedding, x -> x::DOUBLE * x::DOUBLE)),
         |          (acc, z) -> acc + z)) AS nrm
         |      FROM buck b JOIN embeddings emb ON b.vec_id = emb.vec_id),
         |pr AS (SELECT q.vec_id AS qid, n.vec_id AS nid, q.bucket,
         |         ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS sim
         |       FROM e q JOIN e n
         |         ON q.bucket = n.bucket AND q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |r AS (SELECT qid, nid, bucket, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |      FROM pr)
         |SELECT qid, nid, bucket, rank, sim FROM r WHERE rank <= 5""".stripMargin,

    // deterministic IVF: seeds = the 8 vec_ids with the smallest signed
    // mix64(vec_id, 2027); assignment = argmax cosine (ties to smallest
    // cell); probes = top-3 cells per query by the same metric; exact
    // re-rank inside probed cells. Every double is the same sequential fold
    // as the Spark side, so the match is bit-exact.
    // same seed/assignment replication as similarity_topk_ivf, then the
    // within-cell self-join instead of the probe join
    "dedup_semantic" ->
      s"""$normedEmbSql,
         |ncells AS (SELECT greatest(16, count(*) // 1000) AS c FROM e),
         |mx0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu,
         |          ${Similarity.IvfSeedSalt}::UBIGINT AS iu FROM e),
         |mxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix
         |        FROM ${mixChainSql("mx0", "vec_id")}),
         |seeds AS (SELECT cell, cv, cnrm FROM (
         |            SELECT e.vec_id AS cell, e.embedding AS cv, e.nrm AS cnrm,
         |              row_number() OVER (ORDER BY mxs.mix, e.vec_id) AS srn
         |            FROM mxs JOIN e ON mxs.vec_id = e.vec_id)
         |          WHERE srn <= (SELECT c FROM ncells)),
         |cs AS (SELECT e.vec_id, e.embedding, e.nrm, s.cell,
         |         ${dotSql("e.embedding", "s.cv")} / (e.nrm * s.cnrm) AS csim
         |       FROM e CROSS JOIN seeds s),
         |assign AS (SELECT vec_id, embedding, nrm, cell FROM (
         |             SELECT vec_id, embedding, nrm, cell,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY csim DESC, cell) AS rn
         |             FROM cs) WHERE rn = 1),
         |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.cell,
         |        ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
         |      FROM assign a JOIN assign b
         |        ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT doc_a, doc_b, cell, sim FROM p WHERE sim >= 0.44""".stripMargin,

    "similarity_topk_ivf" ->
      s"""$normedEmbSql,
         |$ivfChainSql
         |SELECT qid, nid, cell, rank, sim FROM r WHERE rank <= 5""".stripMargin,

    // CDC-maintained index replay: the derived embeddings changelog (re-
    // embeds reverse the vector, deletes drop it, %31 appends new docs),
    // arg_max fold, then BOTH assignments with the 16 frozen seed
    // centroids and the same sequential folds — the delta CASE replicates
    // insert/move/delete with same-cell updates suppressed
    "similarity_cdc_index" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd
         |  FROM embeddings),
         |frames AS (
         |  SELECT vec_id * 10 + 5000000 AS o, vec_id, 'u' AS op,
         |         list_reverse(vd) AS vd
         |  FROM e WHERE vec_id % 7 = 3
         |  UNION ALL
         |  SELECT vec_id * 10 + 5000000, vec_id, 'd', vd
         |  FROM e WHERE vec_id % 7 = 4
         |  UNION ALL
         |  SELECT vec_id * 10 + 6000000, vec_id + 1000000000, 'c',
         |         list_reverse(vd)
         |  FROM e WHERE vec_id % 31 = 0),
         |st AS (SELECT vec_id, arg_max(op, o) AS op, arg_max(vd, o) AS vd
         |       FROM frames GROUP BY 1),
         |live AS (
         |  SELECT coalesce(s.vec_id, e.vec_id) AS vec_id,
         |         coalesce(s.vd, e.vd) AS vd
         |  FROM e FULL JOIN st s ON e.vec_id = s.vec_id
         |  WHERE s.op IS NULL OR s.op <> 'd'),
         |cmx0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu,
         |           ${Similarity.IvfSeedSalt}::UBIGINT AS iu FROM e),
         |cmxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix
         |         FROM ${mixChainSql("cmx0", "vec_id")}),
         |seeds AS MATERIALIZED (
         |  SELECT e.vec_id AS cell, e.vd AS cv,
         |         sqrt(${dotSql("e.vd", "e.vd")}) AS cnrm
         |  FROM cmxs JOIN e ON cmxs.vec_id = e.vec_id
         |  ORDER BY cmxs.mix, e.vec_id LIMIT 16),
         |bcs AS (SELECT e.vec_id, s.cell,
         |          ${dotSql("e.vd", "s.cv")}
         |            / (sqrt(${dotSql("e.vd", "e.vd")}) * s.cnrm) AS csim
         |        FROM e CROSS JOIN seeds s),
         |bef AS (SELECT vec_id, cell AS cell_before FROM (
         |          SELECT vec_id, cell, row_number() OVER (
         |            PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |          FROM bcs) WHERE rn = 1),
         |acs AS (SELECT l.vec_id, s.cell,
         |          ${dotSql("l.vd", "s.cv")}
         |            / (sqrt(${dotSql("l.vd", "l.vd")}) * s.cnrm) AS csim
         |        FROM live l CROSS JOIN seeds s),
         |aft AS (SELECT vec_id, cell AS cell_after FROM (
         |          SELECT vec_id, cell, row_number() OVER (
         |            PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
         |          FROM acs) WHERE rn = 1),
         |d AS (SELECT coalesce(b.vec_id, a.vec_id) AS vec_id,
         |        b.cell_before, a.cell_after,
         |        CASE WHEN b.cell_before IS NULL THEN 'insert'
         |             WHEN a.cell_after IS NULL THEN 'delete'
         |             WHEN a.cell_after <> b.cell_before THEN 'move'
         |        END AS change
         |      FROM bef b FULL JOIN aft a ON b.vec_id = a.vec_id)
         |SELECT vec_id, cell_before, cell_after, change
         |FROM d WHERE change IS NOT NULL""".stripMargin,

    // recall@5 of the IVF search against the exhaustive ground truth:
    // both chains above composed, intersected per query
    "similarity_recall_eval" ->
      s"""$normedEmbSql,
         |$ivfChainSql,
         |ivf AS (SELECT qid, nid FROM r WHERE rank <= 5),
         |bfp AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS sim
         |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |bfr AS (SELECT qid, nid,
         |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid)
         |            AS rank
         |        FROM bfp),
         |bf AS (SELECT qid, nid FROM bfr WHERE rank <= 5),
         |hits AS (SELECT bf.qid, count(*) AS n_hits
         |         FROM bf JOIN ivf ON bf.qid = ivf.qid AND bf.nid = ivf.nid
         |         GROUP BY 1),
         |qs AS (SELECT DISTINCT qid FROM bf)
         |SELECT qs.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       5 AS k, coalesce(h.n_hits, 0) / 5.0 AS recall
         |FROM qs LEFT JOIN hits h ON qs.qid = h.qid""".stripMargin,

    // same seed/assignment replication as dedup_semantic (floor 8), with
    // the pair join on BOTH the given label and the assigned cell
    "dedup_embedding_cosine" ->
      s"""$normedEmbSql,
         |ncells AS (SELECT greatest(8, count(*) // 1000) AS c FROM e),
         |mx0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu,
         |          ${Similarity.IvfSeedSalt}::UBIGINT AS iu FROM e),
         |mxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix
         |        FROM ${mixChainSql("mx0", "vec_id")}),
         |seeds AS (SELECT cell, cv, cnrm FROM (
         |            SELECT e.vec_id AS cell, e.embedding AS cv, e.nrm AS cnrm,
         |              row_number() OVER (ORDER BY mxs.mix, e.vec_id) AS srn
         |            FROM mxs JOIN e ON mxs.vec_id = e.vec_id)
         |          WHERE srn <= (SELECT c FROM ncells)),
         |cs AS (SELECT e.vec_id, e.label, e.embedding, e.nrm, s.cell,
         |         ${dotSql("e.embedding", "s.cv")} / (e.nrm * s.cnrm) AS csim
         |       FROM e CROSS JOIN seeds s),
         |assign AS (SELECT vec_id, label, embedding, nrm, cell FROM (
         |             SELECT vec_id, label, embedding, nrm, cell,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY csim DESC, cell) AS rn
         |             FROM cs) WHERE rn = 1),
         |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.label,
         |        ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
         |      FROM assign a JOIN assign b
         |        ON a.label = b.label AND a.cell = b.cell
         |           AND a.vec_id < b.vec_id)
         |SELECT doc_a, doc_b, label, sim FROM p WHERE sim >= 0.3""".stripMargin,

    // the three deterministic-fit ANN pipelines — generated stage-unrolled
    // replays of the exact fits + search tails (see SimilarityOracles)
    "similarity_kmeans_ivf" -> SimilarityOracles.kmeansIvf,
    "similarity_pq_search" -> SimilarityOracles.pqSearch,
    "similarity_ivfpq_search" -> SimilarityOracles.ivfPqSearch,

    // projection replay: the sign matrix is materialized once as 16x64
    // rows via the mix chain (sign bit = zf >= 2^63), gathered into
    // per-row sign lists, and the same order-pinned fold runs per vector
    "similarity_random_projection" ->
      s"""WITH sm0 AS (
         |  SELECT jj.j, ii.i, (jj.j * 4096 + ii.i)::UBIGINT AS hu,
         |         7::UBIGINT AS iu
         |  FROM range(16) jj(j) CROSS JOIN range(64) ii(i)),
         |sgn AS (SELECT j, i,
         |          CASE WHEN zf >= 9223372036854775808::UBIGINT
         |               THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS s
         |        FROM ${mixChainSql("sm0", "j, i")}),
         |sl AS (SELECT j, list(s ORDER BY i) AS sg FROM sgn GROUP BY j)
         |SELECT e.vec_id, sl.j,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(range(1, len(e.embedding) + 1),
         |      i -> sl.sg[i] * e.embedding[i]::DOUBLE)),
         |    (acc, z) -> acc + z) AS value
         |FROM embeddings e CROSS JOIN sl""".stripMargin,

    "similarity_topk_bruteforce" ->
      s"""$normedEmbSql,
         |p AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid,
         |    ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS sim
         |  FROM e q JOIN e n ON q.vec_id < 10 AND q.vec_id <> n.vec_id),
         |r AS (SELECT qid, nid, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |      FROM p)
         |SELECT qid, nid, rank, sim FROM r WHERE rank <= 5""".stripMargin,

    // brute force constrained to cross-label pairs (hard negatives)
    "similarity_hard_negatives" ->
      s"""$normedEmbSql,
         |p AS (
         |  SELECT q.vec_id AS qid, n.vec_id AS nid, n.label AS nlabel,
         |    ${dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS sim
         |  FROM e q JOIN e n
         |    ON q.vec_id < 10 AND q.vec_id <> n.vec_id AND q.label <> n.label),
         |r AS (SELECT qid, nid, nlabel, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
         |      FROM p)
         |SELECT qid, nid, nlabel, rank, sim FROM r WHERE rank <= 5""".stripMargin,

    // winnowing: k-gram FNV hashes -> w-window minima -> distinct; window
    // minima are order-independent, so the replication is exact
    "text_winnow_fingerprint" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_transform(range(0, greatest(length(text) - 8, 0) + 1),
         |      gi -> ${fnvSignedSql("substring(text, gi + 1, 8)", "ci")}) AS hs
         |  FROM documents)
         |SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(0, greatest(len(hs) - 4, 0) + 1),
         |    wj -> list_min(list_slice(hs, wj + 1, wj + 4))))) AS fp
         |FROM h""".stripMargin,

    // FNV-1a 64 replicated as a sequential byte fold in HUGEINT mod-2^64
    // arithmetic (documents.text is ASCII, so ord() == the UTF-8 byte),
    // then wrapped back to the signed BIGINT Spark emits.
    "text_fingerprint" ->
      """SELECT doc_id,
        |  CAST((CASE WHEN h >= 9223372036854775808::HUGEINT
        |             THEN h - 18446744073709551616::HUGEINT ELSE h END) AS BIGINT) AS fp
        |FROM (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(range(1, length(text)+1), i -> ord(text[i])::HUGEINT)),
        |    (acc, b) -> (xor(acc::UBIGINT, b::UBIGINT)::HUGEINT
        |                 * 1099511628211::HUGEINT)
        |                % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)""".stripMargin,

    "dedup_exact" ->
      """SELECT text, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY text""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, lang, n_chars,
        |         unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents),
        |s AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM w a JOIN w b
        |        ON a.lang = b.lang AND a.n_chars = b.n_chars
        |       AND a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
        |       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM p JOIN s sa ON p.doc_a = sa.doc_id
        |       JOIN s sb ON p.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,

    // the prefix-filtered form is EXACT — same result set as the unbounded
    // inverted-index chain, so the oracle is the same SQL verbatim (the
    // independent engine restates the whole pair set; Spark must reproduce
    // it through the prefix index + in-row array intersection)
    "dedup_ngram_jaccard_prefix" ->
      """WITH w AS (
        |  SELECT doc_id, lang, n_chars,
        |         unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents),
        |s AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM w a JOIN w b
        |        ON a.lang = b.lang AND a.n_chars = b.n_chars
        |       AND a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
        |       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM p JOIN s sa ON p.doc_a = sa.doc_id
        |       JOIN s sb ON p.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,

    // identical chain with the df-capped inverted index (sizes stay
    // uncapped, so the estimate can only shrink — subset of the above)
    "dedup_ngram_jaccard_capped" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang, n_chars,
         |         unnest(list_distinct(string_split(text, ' '))) AS word
         |  FROM documents),
         |s AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY 1),
         |keepw AS (SELECT lang, n_chars, word FROM w
         |          GROUP BY 1, 2, 3 HAVING count(*) <= ${Dedup.DefaultMaxDf}),
         |wf AS (SELECT w.doc_id, w.lang, w.n_chars, w.word
         |       FROM w JOIN keepw USING (lang, n_chars, word)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |      FROM wf a JOIN wf b
         |        ON a.lang = b.lang AND a.n_chars = b.n_chars
         |       AND a.word = b.word AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
         |       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         |FROM p JOIN s sa ON p.doc_a = sa.doc_id
         |       JOIN s sb ON p.doc_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5""".stripMargin,

    "dedup_exact_hash" ->
      """SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id,
        |       count(*) AS dup_cnt
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    // CDC-dedup replay: the same derived changelog, folded with arg_max by
    // offset (a doc's offsets are distinct, so the last-writer-wins order
    // reduces to offset order here), grouped on raw text
    // — grouping key choice (text here, sha256 on the Spark side) cannot
    // change the groups, only the shuffle width
    "dedup_cdc_view" ->
      """WITH d0 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0
        |              THEN 'planted dup ' || (doc_id % 17)
        |              ELSE text END AS t0
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id * 10 AS o, doc_id, 'c' AS op, t0 AS text FROM d0
        |  UNION ALL
        |  SELECT doc_id * 10 + 5000000, doc_id, 'u',
        |         'shared dup bucket ' || (doc_id % 11)
        |  FROM d0 WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id * 10 + 5000000, doc_id, 'd', '' FROM d0
        |  WHERE doc_id % 7 = 4),
        |st AS (SELECT doc_id, arg_max(op, o) AS op, arg_max(text, o) AS text
        |       FROM frames GROUP BY 1),
        |live AS (SELECT doc_id, text FROM st WHERE op <> 'd'),
        |grp AS (SELECT text, min(doc_id) AS keeper_id, count(*) AS group_size
        |        FROM live GROUP BY 1)
        |SELECT l.doc_id, g.keeper_id, g.group_size,
        |       l.doc_id = g.keeper_id AS is_keeper
        |FROM live l JOIN grp g USING (text)""".stripMargin,

    // the fused pipeline, restated single-node: the same changelog fold as
    // dedup_cdc_view, then keeper/gate (text grouping == digest grouping;
    // max word multiplicity == max run of the sorted word array), then the
    // mix64-sharded per-shard window prefix sum of corpus_pack_sequences.
    // shard = zf % 4 on the UNSIGNED mix: 2^64 ≡ 0 (mod 4), so it equals
    // Spark's pmod of the signed value
    "pipeline_cdc_training_batches" ->
      s"""WITH d0 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0
        |              THEN 'planted dup ' || (doc_id % 17)
        |              ELSE text END AS t0
        |  FROM documents),
        |frames AS (
        |  SELECT doc_id * 10 AS o, doc_id, 'c' AS op, t0 AS text FROM d0
        |  UNION ALL
        |  SELECT doc_id * 10 + 5000000, doc_id, 'u',
        |         'shared dup bucket ' || (doc_id % 11)
        |  FROM d0 WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id * 10 + 5000000, doc_id, 'd', '' FROM d0
        |  WHERE doc_id % 7 = 4),
        |st AS (SELECT doc_id, arg_max(op, o) AS op, arg_max(text, o) AS text
        |       FROM frames GROUP BY 1),
        |live AS (SELECT doc_id, text FROM st WHERE op <> 'd'),
        |keep AS (SELECT text, min(doc_id) AS keep_id FROM live GROUP BY 1),
        |wf AS (SELECT doc_id, max(c) AS top_cnt, CAST(sum(c) AS BIGINT) AS n_words
        |       FROM (SELECT doc_id, word, count(*) AS c
        |             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |                   FROM live)
        |             GROUP BY 1, 2)
        |       GROUP BY 1),
        |gated AS (SELECT l.doc_id, l.text
        |          FROM live l JOIN keep k USING (text) JOIN wf w USING (doc_id)
        |          WHERE l.doc_id = k.keep_id
        |            AND w.n_words >= 3 AND w.top_cnt * 2 <= w.n_words),
        |src AS (SELECT doc_id, doc_id::UBIGINT AS hu, 0::UBIGINT AS iu
        |        FROM gated),
        |mx AS (SELECT * FROM ${mixChainSql("src", "doc_id")}),
        |sh AS (SELECT g.doc_id, CAST(m.zf % 4::UBIGINT AS BIGINT) AS shard,
        |              CAST(len(string_split(g.text, ' ')) AS BIGINT) AS n_toks
        |       FROM gated g JOIN mx m USING (doc_id)),
        |c AS (SELECT shard, doc_id, n_toks,
        |             CAST(sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                  AS BIGINT) AS cum_end
        |      FROM sh),
        |d AS (SELECT shard, doc_id, cum_end, cum_end - n_toks AS cum_start
        |      FROM c),
        |e AS (SELECT shard, doc_id, cum_start, cum_end,
        |             unnest(generate_series(cum_start // 128,
        |                                    (cum_end - 1) // 128)) AS seq_id
        |      FROM d)
        |SELECT shard, doc_id, seq_id,
        |       greatest(cum_start, seq_id * 128) - cum_start AS doc_tok_start,
        |       greatest(cum_start, seq_id * 128) - seq_id * 128 AS seq_tok_start,
        |       least(cum_end, (seq_id + 1) * 128)
        |         - greatest(cum_start, seq_id * 128) AS span_toks
        |FROM e""".stripMargin,

    "text_bigram_freq" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT unnest(list_transform(range(len(ws) - 1),
        |              i -> ws[i + 1] || ' ' || ws[i + 2])) AS bigram
        |      FROM w WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS cnt FROM b
        |GROUP BY bigram HAVING count(*) >= 5""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+')) AS re_tokens
        |FROM documents""".stripMargin,

    // nfc_normalize is DuckDB's conformant NFC (utf8proc), the same
    // normalization java.text.Normalizer implements; strip-then-collapse
    // mirrors nfcClean's single pass (whitespace survives the control
    // strip, so an islanded control merges its flanking spaces), and NFC
    // runs LAST exactly as in nfcClean — stripping a control can join a
    // combining mark to a new base, so normalizing first would leave
    // decomposed residue
    "text_normalize" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |         nfc_normalize(trim(regexp_replace(regexp_replace(
         |             text || ${sqlStringExpr(NormProbeSuffix)},
         |             '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |           '[ \\t\\n\\r\\x0B\\x0C]+', ' ', 'g'))) AS clean
         |  FROM documents)
         |SELECT doc_id, clean, length(clean) AS n_chars_clean FROM c""".stripMargin,

    // every literal is ::DOUBLE: DuckDB otherwise parses 0.5/1.2 as
    // DECIMAL and computes a decimal chain whose final rounding differs
    // from Spark's per-op IEEE doubles
    "text_bm25_topk" ->
      s"""$bm25ScoredSql
        |SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, score FROM (
        |  SELECT qid, doc_id, score,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10""".stripMargin,

    "text_hybrid_search" ->
      s"""$bm25ScoredSql,
        |shortlist AS (
        |  SELECT qid, doc_id, score AS bm25 FROM (
        |    SELECT qid, doc_id, score,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY score DESC, doc_id ASC) AS r
        |    FROM scored)
        |  WHERE r <= 50),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
        |      (acc, z) -> acc + z)) AS nrm
        |  FROM embeddings),
        |re AS (
        |  SELECT s.qid, s.doc_id, s.bm25,
        |         ${dotSql("qe.embedding", "de.embedding")} / (qe.nrm * de.nrm)
        |           AS sim
        |  FROM shortlist s JOIN e de ON s.doc_id = de.vec_id
        |                   JOIN e qe ON s.qid = qe.vec_id)
        |SELECT CAST(qid AS BIGINT) AS qid, rank, doc_id, bm25, sim FROM (
        |  SELECT qid, doc_id, bm25, sim,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY sim DESC, doc_id ASC) AS rank
        |  FROM re)
        |WHERE rank <= 10""".stripMargin,

    // same lookahead-free GPT-2-style pattern under RE2 (DuckDB strings
    // keep backslashes literal, so only the quote needs doubling);
    // covered_chars == n_chars2 cross-checks that both engines tile the
    // string identically
    "text_bpe_token_count" ->
      s"""WITH t AS (SELECT doc_id, length(text) AS n_chars2,
         |             regexp_extract_all(text, '${TextAnalysis.BpePattern.replace("'", "''")}') AS toks
         |           FROM documents)
         |SELECT doc_id, len(toks) AS bpe_tokens,
         |       CAST(list_sum(list_prepend(0, list_transform(toks, t -> length(t)))) AS INTEGER)
         |         AS covered_chars,
         |       n_chars2
         |FROM t""".stripMargin,

    "text_quality_score" ->
      """SELECT doc_id, n_chars,
        |       len(string_split(text, ' ')) AS word_cnt,
        |       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |            AS DOUBLE) / length(text) AS punct_ratio,
        |       CAST(len(list_filter(string_split(text, ' '),
        |                 w -> w IN ('the', 'a', 'of', 'and', 'is')))
        |            AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
        |       CAST(list_sum(list_transform(string_split(text, ' '),
        |                 w -> length(w)))
        |            AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len
        |FROM documents""".stripMargin,

    "text_lang_id" ->
      """SELECT doc_id, lang,
        |       CASE WHEN text LIKE '% the %' THEN 'en'
        |            WHEN text LIKE '% der %' THEN 'de'
        |            WHEN text LIKE '% la %' THEN 'fr'
        |            ELSE 'unk' END AS lang_guess
        |FROM documents""".stripMargin,

    // the fold picks en first, de only if strictly greater, fr only if
    // strictly greater than the en/de winner — replicated by the CASE order
    "text_lang_id_ngram" -> {
      def hitSql(g: String) = s"(length(text) - length(replace(text, '$g', ''))) // 3"
      val scores = TextAnalysis.LangTrigrams.map { case (lang, gs) =>
        lang -> gs.map(hitSql).mkString("(", " + ", ")")
      }.toMap
      s"""WITH s AS (SELECT doc_id, lang,
         |             ${scores("en")} AS score_en,
         |             ${scores("de")} AS score_de,
         |             ${scores("fr")} AS score_fr
         |           FROM documents)
         |SELECT doc_id, lang, score_en, score_de, score_fr,
         |       CASE WHEN greatest(score_en, score_de, score_fr) = 0 THEN 'unk'
         |            WHEN score_fr > greatest(score_en, score_de) THEN 'fr'
         |            WHEN score_de > score_en THEN 'de'
         |            ELSE 'en' END AS lang_guess
         |FROM s""".stripMargin
    }
  )
}
