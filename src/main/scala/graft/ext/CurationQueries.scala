package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryPack
import graft.cdc.model.Changelog.table

/** Oracled queries for [[Curation]]: within-doc repetition stats, PII
  * scrubbing, and the composed corpus-curation gate.
  *
  * The scrub fixture plants deterministic PII (emails/URLs derived from
  * doc_id, skipped on every 5th doc so the zero-match branch runs) with the
  * SAME derivation on both sides — the house fixture-synthesis pattern.
  */
object CurationQueries extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition" -> ((s, dir) =>
      Curation.repetitionStats(table(s, dir, "documents"))),

    "text_scrub_pii" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val aug = when(col("doc_id") % 5 === 0, col("text")).otherwise(
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or http://h"), col("doc_id") % 7, lit(".example/p")))
      Curation.scrubPii(docs.select(col("doc_id"), aug.as("text")))
    }),

    "corpus_curation_pipeline" -> ((s, dir) =>
      Curation.pipeline(table(s, dir, "documents"))),

    // benchmark set = every 29th doc (fixture stand-in for an eval suite);
    // the planted near-duplicates of benchmark members get flagged with
    // high overlap, plus the occasional single-gram chance collision
    "corpus_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Curation.decontaminate(
        docs.where(col("doc_id") % 29 =!= 0),
        docs.where(col("doc_id") % 29 === 0))
    }),

    // every 4th doc gets the 10-word boilerplate prefix (the cookie-banner
    // stand-in): its aligned segment repeats across 125 docs, keep-first
    // keeps only doc 0's copy and the rewrite drops the other 124
    "corpus_segment_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val planted = when(col("doc_id") % 4 === 0,
        concat(lit(Boilerplate + " "), col("text"))).otherwise(col("text"))
      Curation.segmentDedup(docs.select(col("doc_id"), planted.as("text")), span = 10)
    }),

    // mixing config derived from the source index (golden-ratio ppm spread;
    // src0 lands on 0 ppm, exercising the all-dropped stratum)
    "corpus_stratified_sample" -> ((s, dir) => {
      val rates = s.range(20).select(
        concat(lit("src"), col("id")).as("source"),
        pmod(col("id") * 61803L, lit(1000000L)).as("keep_ppm"))
      Curation.stratifiedSample(table(s, dir, "documents"), rates, seed = 42L)
    }),

    // stand-in model: 1024 integer weights in [-1000, 1000] derived from
    // graft_mix64(bucket, 7) — a trained model would load the same
    // (bucket, w) shape from storage
    "corpus_quality_classifier" -> ((s, dir) => {
      graft.cdc.types.GraftFunctions.register(s) // weights analyze eagerly
      val weights = s.range(1024).select(
        col("id").as("bucket"),
        (pmod(call_function("graft_mix64", col("id"), lit(7L)), lit(2001L)) - 1000L)
          .as("w"))
      Curation.hashedLinearScore(table(s, dir, "documents"), weights, dim = 1024)
    }),

    // 2048-token training sequences; the manifest is pure integer
    // arithmetic off a distributed prefix sum, so it hash-matches DuckDB's
    // single-node window formulation exactly
    "corpus_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(table(s, dir, "documents"), seqLen = 2048L)),

    "corpus_vocab_coverage" -> ((s, dir) =>
      Curation.vocabCoverage(table(s, dir, "documents"), vocabSize = 100)),

    // temperature mixing at tau=1/2: rates derived from the corpus via
    // sqrt (the one correctly-rounded IEEE power), gate = the same mix64
    // ppm bucket as the stratified sampler
    "corpus_temperature_mix" -> ((s, dir) =>
      Curation.temperatureMix(table(s, dir, "documents"), seed = 42L,
        targetFraction = 0.25)),

    // KenLM-style corpus-conditional quality score, kept in the exact
    // division domain (no log) so the per-position probability fold is a
    // deterministic IEEE sequence both engines replay bit-for-bit
    "corpus_ngram_lm_score" -> ((s, dir) =>
      Curation.ngramLmScore(table(s, dir, "documents"))),

    // DSIR importance resampling: hashed-bigram distributions fit on the
    // src0 slice vs the rest, raw docs ranked by target-likeness
    "corpus_dsir_select" -> ((s, dir) =>
      Curation.dsirSelect(table(s, dir, "documents"),
        targetSource = "src0", dim = 1024, k = 64)),

    // content-digest-keyed train/holdout split: exact duplicates can never
    // straddle the split (id-keyed splits leak them into the holdout)
    "corpus_holdout_split" -> ((s, dir) =>
      Curation.holdoutSplit(table(s, dir, "documents"), seedTag = "_s7")),

    // token-budget mixture fill: per-source budgets derived from the
    // source name (deterministic fixture both engines build), quality
    // proxy = character length; budgets sit below most sources' totals so
    // the prefix cut is exercised, not vacuous
    "corpus_token_budget_mix" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget_tokens",
          lit(200L) + lit(61L) * expr("CAST(substring(source, 4) AS BIGINT)"))
      Curation.tokenBudgetMix(docs, budgets, length(col("text")))
    }),

    "corpus_shuffle" -> ((s, dir) =>
      Curation.globalShuffle(table(s, dir, "documents"), seed = 7L, nShards = 16)),

    // HLL distinct-content sketch, both estimate branches in one result:
    // per-source groups are sparse (linear-counting branch) while the
    // whole-corpus group at p=7 exceeds 2.5m (raw harmonic branch at the
    // driver's sf0.01+). `estimate` itself stays API-side (ln has no
    // cross-engine bit guarantee); everything oracled is exact-domain
    "corpus_distinct_sketch" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val cols = Seq("source", "n_docs", "present_buckets", "zero_buckets",
        "sum_scaled", "est_raw", "lc_applies").map(col)
      Curation.distinctSketch(docs, p = 8).select(cols: _*)
        .unionAll(Curation.distinctSketch(
          docs.withColumn("source", lit("__all__")), p = 7).select(cols: _*))
    }),

    // HLL set algebra from STORED register tables: group the 20 per-source
    // sketches into even/odd families by register-wise max-merge — the
    // corpus is not re-scanned; the oracle computes the union sketch
    // DIRECTLY on the regrouped corpus, so hash equality proves the merge
    // is lossless (merged registers == union's own registers)
    "corpus_sketch_union" -> ((s, dir) => {
      val cols = Seq("source", "n_docs", "present_buckets", "zero_buckets",
        "sum_scaled", "est_raw", "lc_applies").map(col)
      Curation.sketchUnion(
        Curation.hllRegisters(table(s, dir, "documents"), p = 8),
        concat(lit("union"),
          pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(2L))),
        p = 8).select(cols: _*)
    }),

    // UniMax language-balanced mix: epoch cap 1, budget = 80% of the
    // corpus tokens (derived IN the query so the fixture scales with sf) —
    // small languages hit their natural-size cap, the surplus flows up,
    // and the largest language absorbs the remainder
    "corpus_unimax_mix" -> ((s, dir) =>
      Curation.unimaxMixFraction(table(s, dir, "documents"),
        budgetNum = 4L, budgetDen = 5L, epochCap = 1L,
        score = length(col("text")))),

    // sliding-window RAG chunk index: 12-word windows every 8 words, the
    // last window clamped to the document end; fingerprints, not text
    "corpus_rag_chunks" -> ((s, dir) =>
      Curation.ragChunks(table(s, dir, "documents"), width = 12, stride = 8)),

    // T5 span corruption: 8-word spans, splitmix-gated 1-in-5 masking,
    // sentinel-renumbered (input, target) pairs — one in-row fold, no
    // shuffle; the oracle replays the same mix64 gate per (doc, span) and
    // rebuilds both strings with ordered string_aggs over an explicit
    // sentinel-numbering window
    "corpus_span_corruption" -> ((s, dir) =>
      Curation.spanCorruption(table(s, dir, "documents"), spanLen = 8,
        maskEveryK = 5, seed = 11L)),

    // fill-in-the-middle: mix64-gated half of the corpus re-emitted in
    // PSM sentinel order with independently drawn split points
    "corpus_fim_transform" -> ((s, dir) =>
      Curation.fimTransform(table(s, dir, "documents"), seed = 23L)),

    // C4 bad-words gate: every 11th doc gets a mixed-case planted hit so
    // both the kept and dropped branches (and case folding) are exercised
    "corpus_blocklist_filter" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val aug = when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" BadWord end"))).otherwise(col("text"))
      Curation.blocklistGate(
        docs.select(col("doc_id"), col("source"), aug.as("text")),
        Seq("badword", "verboten"))
    }),

    // padding-efficient batching: 256-token batches of at most 8 docs —
    // mid-size buckets cap by tokens, small buckets by doc count
    "corpus_length_batches" -> ((s, dir) =>
      Curation.lengthBatches(table(s, dir, "documents"),
        maxBatchTokens = 256L, maxBatchDocs = 8L)),

    // stream-analytics face of the HLL sketch: distinct users per
    // (event_type, event-time hour) over the changelog's events table —
    // same plan runs under Structured Streaming (StreamingSketchSpec)
    "events_distinct_users" -> ((s, dir) => {
      val cols = Seq("event_type", "hour_bucket", "n_items",
        "present_buckets", "zero_buckets", "sum_scaled", "est_raw",
        "lc_applies").map(col)
      Curation.windowedUserSketch(table(s, dir, "events"), p = 8).select(cols: _*)
    }),

    // exact per-source token-length quantiles (p25/p50/p75/p90) via ONE
    // global distributed rank — window-free, group-skew-immune; integer
    // rank arithmetic so the order statistics replay exactly
    "corpus_length_quantiles" -> ((s, dir) =>
      Curation.lengthQuantiles(table(s, dir, "documents"))),

    // count-min heavy hitters over word trigrams: 2^14 cells/row against
    // ~1.6 occurrences/cell is deliberately loaded so collision
    // overestimates appear (admitted set ≈ 2× the true heavy hitters) —
    // and reproduce in the oracle (deterministic hash algebra); exact
    // counts ride along so cms_over is measurable per admission
    "text_cms_heavy_hitters" -> ((s, dir) =>
      Curation.cmsHeavyHitters(table(s, dir, "documents"),
        n = 3, minCount = 5L, wBits = 14, d = 4)),

    // Bloom-filter decontamination: same benchmark split as
    // corpus_decontaminate; 4096 bits / 2 hashes is deliberately loaded
    // (~34% fill) so deterministic false positives appear and fp_surplus
    // is a real, nonzero tuning signal
    "corpus_bloom_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Curation.bloomDecontaminate(
        docs.where(col("doc_id") % 29 =!= 0),
        docs.where(col("doc_id") % 29 === 0))
    }),

    // in-engine quality-probe training: 2 squared-loss GD steps on
    // hashed-bigram features, target slice = src0 (order-exact folds, so
    // DuckDB and CurationSpec's driver replay both match it bit for bit)
    "corpus_train_quality_probe" -> ((s, dir) =>
      Curation.linearProbeFit(table(s, dir, "documents"),
        targetSource = "src0", dim = 256, iters = 2, lr = 0.5)),

    // the composed corpus -> training-batches flow in ONE declarative
    // plan: quality gate + exact-dedup keeper, then the survivors packed
    // into 2048-token sequences — all-integer, hash-oracled end to end
    "corpus_training_pipeline" -> ((s, dir) =>
      Curation.packSequences(
        Curation.gated(table(s, dir, "documents")).select(col("doc_id"), col("text")),
        seqLen = 2048L))
  )

  /** 10 words exactly — one aligned `span = 10` segment when prefixed. */
  private[ext] val Boilerplate =
    "terms of service apply to all content on this site"

  /** α·m²·2^64 for p = 8 — the [[hllSketchSql]] constant, shared with the
    * events_distinct_users oracle (same shortest-repr round-trip contract).
    */
  private val Hll8Const: Double = {
    val m = 256L
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * java.lang.Math.scalb(1.0, 64)
  }

  /** One branch of the corpus_distinct_sketch oracle: the HLL register
    * derivation and exact-domain estimate columns for grouping expression
    * `srcExpr` at precision `p`. The spliced constant is α·m²·2^64 — exact
    * in double (m and 2^64 only shift α's exponent) and round-tripped
    * through Scala's shortest-repr `toString`, which DuckDB parses back to
    * the identical bits.
    */
  private def hllSketchSql(srcExpr: String, p: Int): String = {
    val m = 1L << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val cNum = alpha * m * m * java.lang.Math.scalb(1.0, 64)
    val modLit = (1L << (64 - p)).toString
    s"""SELECT source, n_docs, present_buckets, zero_buckets,
       |       CAST(total AS VARCHAR) AS sum_scaled,
       |       $cNum / CAST(CAST(total AS VARCHAR) AS DOUBLE) AS est_raw,
       |       (zero_buckets > 0 AND
       |        $cNum / CAST(CAST(total AS VARCHAR) AS DOUBLE) <= ${2.5 * m})
       |         AS lc_applies
       |FROM (
       |  SELECT source, CAST(sum(n_items) AS BIGINT) AS n_docs,
       |         count(*) AS present_buckets,
       |         $m - count(*) AS zero_buckets,
       |         CAST(sum(CAST(2 ** (64 - reg) AS DECIMAL(20,0)))
       |              + CAST($m - count(*) AS DECIMAL(6,0))
       |                * '18446744073709551616'::DECIMAL(20,0)
       |              AS DECIMAL(38,0)) AS total
       |  FROM (
       |    SELECT source, hu >> ${64 - p} AS bucket,
       |           max(CASE WHEN hu % $modLit::UBIGINT = 0::UBIGINT
       |                    THEN ${65 - p}
       |                    ELSE ${65 - p} - length(bin(hu % $modLit::UBIGINT))
       |               END) AS reg,
       |           count(*) AS n_items
       |    FROM (SELECT source, zf AS hu FROM ${ExtQueries.mixChainSql(
                    s"""(SELECT $srcExpr AS source,
                       |  ${ExtQueries.fnvUSql("text")} AS hu, 0::UBIGINT AS iu
                       |  FROM documents WHERE text IS NOT NULL)""".stripMargin,
                    "source")})
       |    GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin
  }

  def oracles: Map[String, String] = {
    // the trigram scorer + profile-order argmax, exactly as the
    // text_lang_id_ngram oracle renders it
    def hitSql(g: String) = s"(length(text) - length(replace(text, '$g', ''))) // 3"
    val scores = TextAnalysis.LangTrigrams.map { case (lang, gs) =>
      lang -> gs.map(hitSql).mkString("(", " + ", ")")
    }.toMap
    val guessSql =
      s"""CASE WHEN greatest(${scores("en")}, ${scores("de")}, ${scores("fr")}) = 0 THEN 'unk'
         |     WHEN ${scores("fr")} > greatest(${scores("en")}, ${scores("de")}) THEN 'fr'
         |     WHEN ${scores("de")} > ${scores("en")} THEN 'de'
         |     ELSE 'en' END""".stripMargin

    Map(
      "text_repetition" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |wc AS (SELECT doc_id, w, count(*) AS c
          |       FROM (SELECT doc_id, unnest(ws) AS w FROM t) GROUP BY 1, 2),
          |topw AS (SELECT doc_id, w, c FROM (
          |           SELECT doc_id, w, c,
          |                  row_number() OVER (PARTITION BY doc_id
          |                                     ORDER BY c DESC, w ASC) AS rn
          |           FROM wc) WHERE rn = 1),
          |bc AS (SELECT doc_id, b, count(*) AS c
          |       FROM (SELECT doc_id,
          |                    unnest(list_transform(generate_series(1, len(ws) - 1),
          |                                          i -> ws[i] || ' ' || ws[i + 1])) AS b
          |             FROM t WHERE len(ws) >= 2) GROUP BY 1, 2),
          |topb AS (SELECT doc_id, b, c FROM (
          |           SELECT doc_id, b, c,
          |                  row_number() OVER (PARTITION BY doc_id
          |                                     ORDER BY c DESC, b ASC) AS rn
          |           FROM bc) WHERE rn = 1)
          |SELECT t.doc_id, len(t.ws) AS n_words,
          |       len(list_distinct(t.ws)) AS n_distinct,
          |       topw.w AS top_word, topw.c AS top_word_cnt,
          |       topw.c * length(topw.w) AS top_word_chars,
          |       topb.b AS top_bigram, coalesce(topb.c, 0) AS top_bigram_cnt
          |FROM t JOIN topw USING (doc_id) LEFT JOIN topb USING (doc_id)""".stripMargin,

      "text_scrub_pii" ->
        s"""WITH aug AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 5 = 0 THEN text
           |              ELSE text || ' contact user' || doc_id ||
           |                   '@example.com or http://h' || (doc_id % 7) ||
           |                   '.example/p' END AS text
           |  FROM documents)
           |SELECT doc_id,
           |       len(regexp_extract_all(text, '${Curation.EmailPattern}')) AS n_emails,
           |       len(regexp_extract_all(text, '${Curation.UrlPattern}')) AS n_urls,
           |       regexp_replace(regexp_replace(text,
           |         '${Curation.EmailPattern}', '<EMAIL>', 'g'),
           |         '${Curation.UrlPattern}', '<URL>', 'g') AS scrubbed
           |FROM aug""".stripMargin,

      "corpus_decontaminate" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |grams AS (
          |  SELECT DISTINCT doc_id,
          |         unnest(list_transform(generate_series(1, len(ws) - 4),
          |                               i -> array_to_string(ws[i:i+4], ' '))) AS g
          |  FROM t WHERE len(ws) >= 5),
          |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0)
          |SELECT doc_id, count(*) AS shared_grams
          |FROM grams JOIN bench USING (g)
          |WHERE doc_id % 29 <> 0
          |GROUP BY doc_id""".stripMargin,

      "corpus_segment_dedup" ->
        s"""WITH aug AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 4 = 0 THEN '$Boilerplate ' || text
           |              ELSE text END AS text
           |  FROM documents),
           |t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
           |e AS (SELECT doc_id, ws, unnest(range(0, (len(ws) + 9) // 10)) AS idx
           |      FROM t),
           |seg AS (SELECT doc_id, idx,
           |               array_to_string(
           |                 list_slice(ws, idx * 10 + 1, idx * 10 + 10), ' ') AS seg
           |        FROM e),
           |r AS (SELECT doc_id, idx, seg,
           |             row_number() OVER (PARTITION BY seg
           |                                ORDER BY doc_id, idx) AS rn
           |      FROM seg),
           |k AS (SELECT doc_id, count(*) AS n_kept,
           |             string_agg(seg, ' ' ORDER BY idx) AS text_kept
           |      FROM r WHERE rn = 1 GROUP BY doc_id),
           |tot AS (SELECT doc_id, CAST((len(ws) + 9) // 10 AS BIGINT) AS n_segments
           |        FROM t)
           |SELECT tot.doc_id, n_segments,
           |       coalesce(n_kept, 0) AS n_kept,
           |       coalesce(text_kept, '') AS text_kept
           |FROM tot LEFT JOIN k USING (doc_id)""".stripMargin,

      // pmod on the SIGNED mix64 value: ((x % M) + M) % M — 1e6 does not
      // divide 2^64, so unsigned % would diverge from Spark's pmod
      "corpus_stratified_sample" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH src0 AS (SELECT doc_id, source, doc_id::UBIGINT AS hu,
           |                     42::UBIGINT AS iu
           |              FROM documents),
           |mx AS (SELECT * FROM ${ExtQueries.mixChainSql("src0", "doc_id, source")}),
           |b AS (SELECT doc_id, source,
           |             CAST((($signedZf % 1000000) + 1000000) % 1000000 AS BIGINT)
           |               AS bucket_ppm
           |      FROM mx)
           |SELECT doc_id, source, bucket_ppm FROM b
           |WHERE bucket_ppm < (CAST(source[4:] AS BIGINT) * 61803) % 1000000"""
          .stripMargin
      },

      // weight derivation replicated through the same mix chain; the token
      // bucket is fnv64's low 10 bits (dim = 1024 is a power of two, so
      // unsigned % == Spark's signed pmod)
      "corpus_quality_classifier" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH w1 AS (SELECT unnest(range(0, 1024)) AS bucket),
           |w2 AS (SELECT bucket, bucket::UBIGINT AS hu, 7::UBIGINT AS iu FROM w1),
           |wm AS (SELECT * FROM ${ExtQueries.mixChainSql("w2", "bucket")}),
           |wt AS (SELECT bucket,
           |              (($signedZf % 2001) + 2001) % 2001 - 1000 AS w
           |       FROM wm),
           |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |        FROM documents),
           |tb AS (SELECT doc_id,
           |              CAST(${ExtQueries.fnvUSql("tok")} % 1024 AS BIGINT) AS bucket
           |       FROM tok)
           |SELECT doc_id, count(*) AS n_tokens, CAST(sum(w) AS BIGINT) AS score
           |FROM tb JOIN wt USING (bucket)
           |GROUP BY doc_id""".stripMargin
      },

      // DuckDB states the same packing as a single-node window prefix sum;
      // the Spark side distributes it — hash equality proves the
      // decomposition (partition prefix sums + broadcast bases) exact
      "corpus_pack_sequences" ->
        """WITH t AS (SELECT doc_id,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |           FROM documents),
          |c AS (SELECT doc_id, n_toks,
          |             CAST(sum(n_toks) OVER (ORDER BY doc_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |                  AS BIGINT) AS cum_end
          |      FROM t),
          |d AS (SELECT doc_id, n_toks, cum_end,
          |             cum_end - n_toks AS cum_start
          |      FROM c),
          |e AS (SELECT doc_id, n_toks, cum_start, cum_end,
          |             unnest(generate_series(cum_start // 2048,
          |                                    (cum_end - 1) // 2048)) AS seq_id
          |      FROM d)
          |SELECT doc_id, n_toks, seq_id,
          |       greatest(cum_start, seq_id * 2048) - cum_start AS doc_tok_start,
          |       greatest(cum_start, seq_id * 2048) - seq_id * 2048 AS seq_tok_start,
          |       least(cum_end, (seq_id + 1) * 2048)
          |         - greatest(cum_start, seq_id * 2048) AS span_toks
          |FROM e""".stripMargin,

      // the shuffle rank is replicated through the DuckDB mix chain; the
      // single-node row_number here is the oracle-side statement of what
      // the Spark side computes with the distributed rank decomposition
      "corpus_shuffle" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH src AS (SELECT doc_id, doc_id::UBIGINT AS hu, 7::UBIGINT AS iu
           |             FROM documents),
           |mx AS (SELECT * FROM ${ExtQueries.mixChainSql("src", "doc_id")}),
           |r AS (SELECT doc_id, $signedZf AS mix FROM mx),
           |p AS (SELECT doc_id,
           |             row_number() OVER (ORDER BY mix, doc_id) AS pos
           |      FROM r)
           |SELECT doc_id, pos, (pos - 1) % 16 AS shard FROM p""".stripMargin
      },

      "corpus_vocab_coverage" ->
        """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          |           FROM documents),
          |dfq AS (SELECT word, count(*) AS df
          |        FROM (SELECT DISTINCT doc_id, word FROM w)
          |        GROUP BY word),
          |v AS (SELECT word FROM dfq ORDER BY df DESC, word ASC LIMIT 100)
          |SELECT doc_id, count(*) AS n_toks,
          |       CAST(sum(CASE WHEN word IN (SELECT word FROM v)
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab,
          |       CAST(sum(CASE WHEN word IN (SELECT word FROM v)
          |                     THEN 0 ELSE 1 END) AS BIGINT) AS oov
          |FROM w
          |GROUP BY doc_id""".stripMargin,

      "corpus_temperature_mix" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents
           |           GROUP BY source),
           |wt AS (SELECT source, n_s, sqrt(CAST(n_s AS DOUBLE)) AS w FROM c),
           |z AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
           |                                      list(w ORDER BY source)),
           |                         (acc, x) -> acc + x) AS z,
           |             CAST(sum(n_s) AS BIGINT) AS n_total
           |      FROM wt),
           |r AS (SELECT source,
           |             LEAST(1000000::BIGINT,
           |                   CAST(floor(w / z.z * 0.25::DOUBLE * z.n_total
           |                              / n_s * 1000000.0::DOUBLE) AS BIGINT))
           |               AS keep_ppm
           |      FROM wt CROSS JOIN z),
           |src0 AS (SELECT doc_id, source, doc_id::UBIGINT AS hu,
           |                42::UBIGINT AS iu
           |         FROM documents),
           |mx AS (SELECT * FROM ${ExtQueries.mixChainSql("src0", "doc_id, source")}),
           |b AS (SELECT doc_id, source,
           |             CAST((($signedZf % 1000000) + 1000000) % 1000000 AS BIGINT)
           |               AS bucket_ppm
           |      FROM mx)
           |SELECT b.doc_id, b.source, b.bucket_ppm, r.keep_ppm
           |FROM b JOIN r ON b.source = r.source
           |WHERE b.bucket_ppm < r.keep_ppm""".stripMargin
      },

      // the add-one bigram LM: counts and V from the corpus itself; the
      // per-doc sum replays Spark's position-ordered in-row fold via
      // list_reduce (same IEEE sequence => hash-exact doubles)
      // DuckDB states the budget fill as a plain per-source window; hash
      // equality proves the distributed global-prefix-sum + broadcast-base
      // decomposition exact (same pattern as corpus_shuffle's oracle)
      "corpus_token_budget_mix" ->
        """WITH t AS (SELECT doc_id, source, length(text) AS score,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |           FROM documents),
          |b AS (SELECT DISTINCT source,
          |             200 + 61 * CAST(substr(source, 4) AS BIGINT) AS budget_tokens
          |      FROM documents),
          |c AS (SELECT doc_id, source, n_toks,
          |             CAST(sum(n_toks) OVER (PARTITION BY source
          |                               ORDER BY score DESC, doc_id
          |                               ROWS BETWEEN UNBOUNDED PRECEDING
          |                                        AND CURRENT ROW) AS BIGINT) AS cum_toks
          |      FROM t)
          |SELECT c.doc_id, c.source, c.n_toks, c.cum_toks
          |FROM c JOIN b USING (source)
          |WHERE cum_toks <= budget_tokens""".stripMargin,

      // HLL replay: same fnv64 -> top-p bucket / leading-zero rank, the
      // register sum carried scaled by 2^64 in DECIMAL (exact powers of
      // two), the raw estimate ONE divide of two correctly-rounded doubles;
      // the ln-based corrected estimate is deliberately NOT in the oracled
      // columns (no cross-engine bit guarantee for ln)
      "corpus_distinct_sketch" ->
        s"""${hllSketchSql("source", 8)}
           |UNION ALL
           |${hllSketchSql("'__all__'", 7)}""".stripMargin,

      // sketch-union replay: DuckDB sketches the REGROUPED corpus
      // directly; the Spark side answers from stored per-source register
      // tables via max-merge — hash equality IS the lossless-merge proof
      "corpus_sketch_union" ->
        hllSketchSql(
          "'union' || (CAST(substring(source, 4) AS BIGINT) % 2)", 8),

      // UniMax replay: the ascending-cap fair-share fold as a recursive
      // CTE (all-integer, floor division == Scala's), then the same
      // per-language window fill as corpus_token_budget_mix's oracle
      "corpus_unimax_mix" ->
        """WITH RECURSIVE t AS (
          |  SELECT doc_id, lang, length(text) AS score,
          |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |  FROM documents WHERE text IS NOT NULL),
          |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS nat
          |        FROM t GROUP BY 1),
          |caps AS (SELECT lang, nat * 1 AS cap,
          |                CAST(row_number() OVER (ORDER BY nat * 1, lang)
          |                     AS BIGINT) AS rn,
          |                CAST(count(*) OVER () AS BIGINT) AS n
          |         FROM tot),
          |rec AS (
          |  SELECT CAST(0 AS BIGINT) AS rn,
          |         (SELECT CAST(sum(n_toks) AS BIGINT) * 4 // 5 FROM t)
          |           AS remaining,
          |         CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS alloc
          |  UNION ALL
          |  SELECT c.rn,
          |         r.remaining - least(c.cap, r.remaining // (c.n - c.rn + 1)),
          |         c.lang,
          |         least(c.cap, r.remaining // (c.n - c.rn + 1))
          |  FROM rec r JOIN caps c ON c.rn = r.rn + 1),
          |b AS (SELECT lang, alloc AS budget_tokens FROM rec WHERE rn > 0),
          |f AS (SELECT doc_id, lang, n_toks,
          |             CAST(sum(n_toks) OVER (PARTITION BY lang
          |                  ORDER BY score DESC, doc_id
          |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS BIGINT) AS cum_toks
          |      FROM t)
          |SELECT f.doc_id, f.lang, f.n_toks, f.cum_toks, b.budget_tokens
          |FROM f JOIN b USING (lang) WHERE cum_toks <= budget_tokens""".stripMargin,

      // windowed-HLL replay: integer user keys go straight through the
      // mix64 chain (no fnv), the hour is pure integer division on the
      // epoch clock, and the estimate columns reuse the exact-domain
      // contract of corpus_distinct_sketch at p = 8
      "events_distinct_users" ->
        s"""WITH m0 AS (SELECT event_type,
           |                   CAST(epoch_us(ts) AS BIGINT) // 3600000000
           |                     AS hour_bucket,
           |                   user_id::UBIGINT AS hu, 0::UBIGINT AS iu
           |            FROM events WHERE user_id IS NOT NULL),
           |mx AS (SELECT event_type, hour_bucket, zf
           |       FROM ${ExtQueries.mixChainSql("m0", "event_type, hour_bucket")}),
           |regs AS (SELECT event_type, hour_bucket, zf >> 56 AS bucket,
           |                max(CASE WHEN zf % 72057594037927936::UBIGINT
           |                              = 0::UBIGINT THEN 57
           |                         ELSE 57 - length(bin(
           |                                zf % 72057594037927936::UBIGINT))
           |                    END) AS reg,
           |                count(*) AS n_items
           |         FROM mx GROUP BY 1, 2, 3),
           |est AS (SELECT event_type, hour_bucket,
           |               CAST(sum(n_items) AS BIGINT) AS n_items,
           |               count(*) AS present_buckets,
           |               256 - count(*) AS zero_buckets,
           |               CAST(sum(CAST(2 ** (64 - reg) AS DECIMAL(20,0)))
           |                    + CAST(256 - count(*) AS DECIMAL(6,0))
           |                      * '18446744073709551616'::DECIMAL(20,0)
           |                    AS DECIMAL(38,0)) AS total
           |        FROM regs GROUP BY 1, 2)
           |SELECT event_type, hour_bucket, n_items, present_buckets,
           |       zero_buckets, CAST(total AS VARCHAR) AS sum_scaled,
           |       $Hll8Const / CAST(CAST(total AS VARCHAR) AS DOUBLE)
           |         AS est_raw,
           |       (zero_buckets > 0 AND
           |        $Hll8Const / CAST(CAST(total AS VARCHAR) AS DOUBLE) <= 640.0)
           |         AS lc_applies
           |FROM est""".stripMargin,

      // quantile replay: a plain per-source window is DuckDB's natural
      // form; hash equality proves the global-rank decomposition picks
      // the identical order statistics (rank = ceil(q·n), doc_id ties)
      "corpus_length_quantiles" ->
        """WITH t AS (SELECT source, doc_id,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT)
          |                    AS n_toks
          |           FROM documents WHERE text IS NOT NULL),
          |r AS (SELECT source, n_toks,
          |             row_number() OVER (PARTITION BY source
          |                                ORDER BY n_toks, doc_id) AS lrn,
          |             count(*) OVER (PARTITION BY source) AS n_docs
          |      FROM t),
          |q AS (SELECT * FROM (VALUES (1, 4), (2, 4), (3, 4), (9, 10))
          |      AS q(q_num, q_den))
          |SELECT r.source, q.q_num, q.q_den, r.n_docs, r.n_toks
          |FROM r JOIN q
          |  ON r.lrn = (q.q_num * r.n_docs + q.q_den - 1) // q.q_den""".stripMargin,

      // CMS replay: every trigram OCCURRENCE fans out to 4 (row, pos)
      // cells via the fnv64 -> mix64(h, row) chain (16384 a power of two
      // so unsigned % == Spark's signed pmod); counters count occurrences,
      // estimates take min over each distinct gram's cells — collisions
      // and their overestimates reproduce bit-exact
      "text_cms_heavy_hitters" ->
        s"""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents
           |           WHERE text IS NOT NULL),
           |gr AS (
           |  SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
           |                               i -> array_to_string(ws[i:i+2], ' '))) AS g
           |  FROM t WHERE len(ws) >= 3),
           |h AS (SELECT g, ${ExtQueries.fnvUSql("g")} AS hu FROM gr),
           |fam AS (SELECT g, hu, t2.i::UBIGINT AS iu
           |        FROM h CROSS JOIN range(4) t2(i)),
           |cells AS (SELECT g, CAST(iu AS BIGINT) AS i,
           |                 CAST(zf % 16384 AS BIGINT) AS pos
           |          FROM ${ExtQueries.mixChainSql("fam", "g, iu")}),
           |counters AS (SELECT i, pos, count(*) AS cnt FROM cells GROUP BY 1, 2),
           |est AS (SELECT c.g, min(k.cnt) AS cms_est
           |        FROM (SELECT DISTINCT g, i, pos FROM cells) c
           |        JOIN counters k USING (i, pos) GROUP BY 1),
           |exact AS (SELECT g, count(*) AS exact_cnt FROM gr GROUP BY 1)
           |SELECT g, exact_cnt, cms_est, cms_est - exact_cnt AS cms_over
           |FROM est JOIN exact USING (g) WHERE cms_est >= 5""".stripMargin,

      // Bloom replay: identical hash algebra (fnv64 -> mix64 per hash
      // index -> low-12-bit position, 4096 a power of two so unsigned %
      // == Spark's signed pmod) — false positives REPRODUCE, which is the
      // point: fp_surplus is engine-portable
      "corpus_bloom_decontaminate" ->
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |grams AS (
           |  SELECT DISTINCT doc_id,
           |         unnest(list_transform(generate_series(1, len(ws) - 4),
           |                               i -> array_to_string(ws[i:i+4], ' '))) AS g
           |  FROM t WHERE len(ws) >= 5),
           |h AS (SELECT doc_id, g, ${ExtQueries.fnvUSql("g")} AS hu FROM grams),
           |fam AS (SELECT doc_id, g, hu, t2.i::UBIGINT AS iu
           |        FROM h CROSS JOIN range(2) t2(i)),
           |pos AS (SELECT DISTINCT doc_id, g, CAST(zf % 4096 AS BIGINT) AS pos
           |        FROM ${ExtQueries.mixChainSql("fam", "doc_id, g")}),
           |bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 29 = 0),
           |cpos AS (SELECT * FROM pos WHERE doc_id % 29 <> 0),
           |npos AS (SELECT doc_id, g, count(*) AS n_pos FROM cpos GROUP BY 1, 2),
           |mt AS (SELECT c.doc_id, c.g, count(*) AS set_k
           |       FROM cpos c JOIN bits b ON c.pos = b.pos GROUP BY 1, 2),
           |bloom AS (SELECT m.doc_id, count(*) AS bloom_hits
           |          FROM mt m JOIN npos np
           |            ON m.doc_id = np.doc_id AND m.g = np.g
           |          WHERE m.set_k = np.n_pos GROUP BY 1),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
           |ex AS (SELECT doc_id, count(*) AS exact_hits
           |       FROM grams JOIN bench USING (g)
           |       WHERE doc_id % 29 <> 0 GROUP BY 1),
           |cnt AS (SELECT doc_id, count(*) AS n_grams FROM grams
           |        WHERE doc_id % 29 <> 0 GROUP BY 1)
           |SELECT cnt.doc_id, cnt.n_grams,
           |       coalesce(bloom.bloom_hits, 0) AS bloom_hits,
           |       coalesce(ex.exact_hits, 0) AS exact_hits,
           |       coalesce(bloom.bloom_hits, 0) - coalesce(ex.exact_hits, 0)
           |         AS fp_surplus
           |FROM cnt LEFT JOIN bloom ON cnt.doc_id = bloom.doc_id
           |LEFT JOIN ex ON cnt.doc_id = ex.doc_id""".stripMargin,

      // probe-training replay: both GD steps unrolled as CTE stages. Step
      // 1 starts from w=0 so pred==0.0 exactly and err==0.0-y; every
      // double op is +-*/ (squared loss, no exp/log), predictions fold by
      // bucket and gradients by doc_id — the same defined IEEE sequences
      // the exact Spark fit runs, so weights hash-match bit-for-bit
      "corpus_train_quality_probe" ->
        s"""WITH toks AS (SELECT doc_id,
           |                     CASE WHEN source = 'src0' THEN 1.0::DOUBLE
           |                          ELSE 0.0::DOUBLE END AS y,
           |                     string_split(text, ' ') AS w
           |              FROM documents),
           |pos AS (SELECT doc_id, y, w, unnest(range(1, len(w))) AS pos
           |        FROM toks WHERE len(w) >= 2),
           |gr AS (SELECT doc_id, y, w[pos] || ' ' || w[pos + 1] AS g FROM pos),
           |b AS (SELECT doc_id, y,
           |             CAST(${ExtQueries.fnvUSql("g")} % 256 AS BIGINT) AS bucket
           |      FROM gr),
           |feat AS (SELECT doc_id, y, bucket, count(*) AS c FROM b GROUP BY 1, 2, 3),
           |n AS (SELECT count(DISTINCT doc_id) AS n FROM feat),
           |e1 AS (SELECT doc_id, 0.0::DOUBLE - y AS err
           |       FROM (SELECT DISTINCT doc_id, y FROM feat)),
           |g1 AS (SELECT f.bucket,
           |              list_reduce(list_prepend(0.0::DOUBLE,
           |                            list(e1.err * f.c ORDER BY f.doc_id)),
           |                          (acc, z) -> acc + z) AS g
           |       FROM feat f JOIN e1 USING (doc_id) GROUP BY f.bucket),
           |w1 AS (SELECT r.i AS bucket,
           |              coalesce(0.0::DOUBLE - 0.5::DOUBLE * g1.g / n.n,
           |                       0.0::DOUBLE) AS wv
           |       FROM range(256) r(i) LEFT JOIN g1 ON g1.bucket = r.i
           |       CROSS JOIN n),
           |p2 AS (SELECT f.doc_id, f.y,
           |              list_reduce(list_prepend(0.0::DOUBLE,
           |                            list(w1.wv * f.c ORDER BY f.bucket)),
           |                          (acc, z) -> acc + z) AS pred
           |       FROM feat f JOIN w1 USING (bucket) GROUP BY f.doc_id, f.y),
           |e2 AS (SELECT doc_id, pred - y AS err FROM p2),
           |g2 AS (SELECT f.bucket,
           |              list_reduce(list_prepend(0.0::DOUBLE,
           |                            list(e2.err * f.c ORDER BY f.doc_id)),
           |                          (acc, z) -> acc + z) AS g
           |       FROM feat f JOIN e2 USING (doc_id) GROUP BY f.bucket)
           |SELECT r.i AS bucket,
           |       w1.wv - coalesce(0.5::DOUBLE * g2.g / n.n, 0.0::DOUBLE) AS weight
           |FROM range(256) r(i)
           |JOIN w1 ON w1.bucket = r.i
           |LEFT JOIN g2 ON g2.bucket = r.i
           |CROSS JOIN n""".stripMargin,

      // blocklist replay: same planted fixture, same lower() fold; hits[1]
      // on an empty list is NULL in DuckDB, matching the guarded first_hit
      "corpus_blocklist_filter" ->
        """WITH a AS (SELECT doc_id, source,
          |                  CASE WHEN doc_id % 11 = 0
          |                       THEN text || ' BadWord end' ELSE text END AS text
          |           FROM documents),
          |h AS (SELECT doc_id, source,
          |             list_filter(string_split(text, ' '),
          |                         w -> list_contains(['badword', 'verboten'],
          |                                            lower(w))) AS hits
          |      FROM a)
          |SELECT doc_id, source, CAST(len(hits) AS INTEGER) AS n_hits,
          |       lower(hits[1]) AS first_hit, len(hits) = 0 AS kept
          |FROM h""".stripMargin,

      // length-batch replay: DuckDB states the rank as a plain per-bucket
      // window — hash equality proves the global-row-number + broadcast
      // base decomposition exact (the corpus_token_budget_mix pattern);
      // bucket = bit_length(n-1) == 64 - clz64(n-1)
      "corpus_length_batches" ->
        """WITH t AS (SELECT doc_id,
          |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |           FROM documents WHERE text IS NOT NULL),
          |b AS (SELECT doc_id, n_toks,
          |             CASE WHEN n_toks <= 1 THEN 0
          |                  ELSE CAST(length(bin((n_toks - 1)::UBIGINT)) AS INTEGER)
          |             END AS bucket
          |      FROM t),
          |r AS (SELECT doc_id, n_toks, bucket,
          |             row_number() OVER (PARTITION BY bucket
          |                                ORDER BY n_toks, doc_id) - 1 AS bucket_rank
          |      FROM b),
          |c AS (SELECT *, (1::BIGINT << bucket) AS padded_len,
          |             greatest(1, least(8, 256 // (1::BIGINT << bucket)))
          |               AS batch_docs
          |      FROM r)
          |SELECT doc_id, n_toks, bucket, padded_len, bucket_rank,
          |       bucket_rank // batch_docs AS batch_idx, batch_docs
          |FROM c""".stripMargin,

      // sliding-window chunk replay: DuckDB list_slice takes an END index
      // where Spark slice takes a LENGTH — start+12 here IS Spark's
      // (start+1, 12); the clamp keeps the last window inside the doc
      "corpus_rag_chunks" ->
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents WHERE text IS NOT NULL),
           |n AS (SELECT doc_id, ws, len(ws) AS l,
           |             CASE WHEN len(ws) <= 12 THEN 1
           |                  ELSE 1 + (len(ws) - 12 + 7) // 8 END AS nc
           |      FROM t),
           |e AS (SELECT doc_id, ws, l, unnest(range(0, nc)) AS idx FROM n),
           |c AS (SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
           |             array_to_string(list_slice(ws,
           |               greatest(0, least(idx * 8, l - 12)) + 1,
           |               greatest(0, least(idx * 8, l - 12)) + 12), ' ') AS chunk,
           |             CAST(least(12, l) AS INTEGER) AS n_toks
           |      FROM e),
           |h AS (SELECT doc_id, chunk_idx, n_toks,
           |             ${ExtQueries.fnvUSql("chunk")} AS hu
           |      FROM c)
           |SELECT doc_id, chunk_idx, n_toks,
           |       ${ExtQueries.toSignedSql("hu")} AS fingerprint
           |FROM h""".stripMargin,

      // span-corruption replay: the mask gate is pmod(mix64(doc*2^20+i,
      // 11), 5) through the shared mix chain; sentinel numbers come from a
      // doc-partitioned preceding-masked count (empty frame -> 0, matching
      // the fold's j = 0 start) and both output strings are ordered
      // string_aggs
      "corpus_span_corruption" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents WHERE text IS NOT NULL),
           |e AS (SELECT doc_id, ws, unnest(range(0, (len(ws) + 7) // 8)) AS i
           |      FROM t),
           |sp AS (SELECT doc_id, i,
           |              array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ')
           |                AS piece,
           |              CAST(doc_id * 1048576 + i AS UBIGINT) AS hu,
           |              11::UBIGINT AS iu
           |       FROM e),
           |mx AS (SELECT * FROM ${ExtQueries.mixChainSql("sp", "doc_id, i, piece")}),
           |f AS (SELECT doc_id, i, piece,
           |             ((($signedZf % 5) + 5) % 5) = 0 AS masked
           |      FROM mx),
           |g AS (SELECT doc_id, i, piece, masked,
           |             count(*) FILTER (WHERE masked) OVER (
           |               PARTITION BY doc_id ORDER BY i
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS j
           |      FROM f),
           |p AS (SELECT doc_id, i, masked,
           |             CASE WHEN masked THEN '<extra_id_' || j || '>'
           |                  ELSE piece END AS inp,
           |             CASE WHEN masked
           |                  THEN '<extra_id_' || j || '> ' || piece END AS tgt
           |      FROM g)
           |SELECT doc_id,
           |       string_agg(inp, ' ' ORDER BY i) AS input_text,
           |       coalesce(string_agg(tgt, ' ' ORDER BY i) FILTER (WHERE masked),
           |                '') AS target_text,
           |       CAST(count(*) FILTER (WHERE masked) AS BIGINT) AS n_masked,
           |       CAST(count(*) AS BIGINT) AS n_spans
           |FROM p GROUP BY doc_id""".stripMargin
      },

      // FIM replay: three independent mix64 draws (coin, p1, p2) through
      // the shared chain; DuckDB list_slice's inclusive END index maps to
      // Spark slice's (start, length) as [1,lo] / [hi+1,len] / [lo+1,hi]
      "corpus_fim_transform" -> {
        val signedZf = ExtQueries.toSignedSql("zf")
        s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ws
           |           FROM documents WHERE text IS NOT NULL),
           |g0 AS (SELECT doc_id, CAST(doc_id AS UBIGINT) AS hu,
           |              23::UBIGINT AS iu FROM d),
           |m0 AS (SELECT doc_id, ((($signedZf % 2) + 2) % 2) = 0 AS fim_applied
           |       FROM ${ExtQueries.mixChainSql("g0", "doc_id")}),
           |g1 AS (SELECT doc_id, len(ws) + 1 AS l, CAST(doc_id AS UBIGINT) AS hu,
           |              24::UBIGINT AS iu FROM d),
           |m1 AS (SELECT doc_id, ((($signedZf % l) + l) % l) AS p1
           |       FROM ${ExtQueries.mixChainSql("g1", "doc_id, l")}),
           |g2 AS (SELECT doc_id, len(ws) + 1 AS l, CAST(doc_id AS UBIGINT) AS hu,
           |              25::UBIGINT AS iu FROM d),
           |m2 AS (SELECT doc_id, ((($signedZf % l) + l) % l) AS p2
           |       FROM ${ExtQueries.mixChainSql("g2", "doc_id, l")}),
           |b AS (SELECT doc_id, least(p1, p2) AS lo, greatest(p1, p2) AS hi
           |      FROM m1 JOIN m2 USING (doc_id))
           |SELECT d.doc_id, fim_applied,
           |       CASE WHEN fim_applied THEN
           |         '<fim_prefix> '
           |         || coalesce(array_to_string(list_slice(ws, 1, lo), ' '), '')
           |         || ' <fim_suffix> '
           |         || coalesce(array_to_string(list_slice(ws, hi + 1, len(ws)), ' '), '')
           |         || ' <fim_middle> '
           |         || coalesce(array_to_string(list_slice(ws, lo + 1, hi), ' '), '')
           |       ELSE text END AS out_text,
           |       lo, hi
           |FROM d JOIN m0 USING (doc_id) JOIN b USING (doc_id)""".stripMargin
      },

      // digest-keyed split replay: DuckDB's sha256 emits the same
      // lowercase hex as Spark's sha2(_, 256); 128 is a power of two, so
      // unsigned % 128 == Spark's signed pmod
      "corpus_holdout_split" ->
        s"""WITH b AS (
           |  SELECT doc_id, source,
           |         CAST(${ExtQueries.fnvUSql("(sha256(text) || '_s7')")} % 128
           |              AS BIGINT) AS bucket
           |  FROM documents)
           |SELECT doc_id, source, bucket,
           |       CASE WHEN bucket < 13 THEN 'holdout' ELSE 'train' END AS split
           |FROM b""".stripMargin,

      // DSIR replay: same gram -> fnv64 -> low-10-bits bucketing as the
      // Spark plan (1024 is a power of two, so unsigned % == signed pmod),
      // same add-one-smoothed (p_b - q_b) weights, and the same
      // bucket-ordered IEEE fold per document
      "corpus_dsir_select" ->
        s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |              FROM documents),
           |pos AS (SELECT doc_id, source, w, unnest(range(1, len(w))) AS pos
           |        FROM toks WHERE len(w) >= 2),
           |gr AS (SELECT doc_id, source, w[pos] || ' ' || w[pos + 1] AS g FROM pos),
           |b AS (SELECT doc_id, source,
           |             CAST(${ExtQueries.fnvUSql("g")} % 1024 AS BIGINT) AS bucket
           |      FROM gr),
           |feat AS (SELECT doc_id, source, bucket, count(*) AS c
           |         FROM b GROUP BY 1, 2, 3),
           |dist AS (SELECT bucket,
           |                sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS cp,
           |                sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cq
           |         FROM b GROUP BY 1),
           |tot AS (SELECT sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS np,
           |               sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS nq
           |        FROM b),
           |terms AS (SELECT f.doc_id, f.source, f.bucket,
           |                 f.c * ((d.cp + 1.0) / (t.np + 1024.0)
           |                        - (d.cq + 1.0) / (t.nq + 1024.0)) AS term
           |          FROM feat f JOIN dist d USING (bucket) CROSS JOIN tot t
           |          WHERE f.source <> 'src0')
           |SELECT doc_id, source, count(*) AS n_feats,
           |       list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY bucket)),
           |                   (acc, z) -> acc + z) AS score
           |FROM terms GROUP BY doc_id, source
           |ORDER BY score DESC, doc_id LIMIT 64""".stripMargin,

      // term = exact hugeint quotient (cb+1)*10^15 // (cu+V): integer
      // sums are order-free, so no positional list fold is needed; the
      // unigram counts are the plain direct aggregate (same values the
      // Spark side derives from w2-sums + doc-first tokens)
      "corpus_ngram_lm_score" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
          |              FROM documents),
          |pos AS (SELECT doc_id, w, unnest(range(1, len(w))) AS pos FROM toks),
          |bi AS (SELECT doc_id, w[pos] AS w1, w[pos + 1] AS w2 FROM pos),
          |uni AS (SELECT unnest(w) AS w1 FROM toks),
          |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
          |cu AS (SELECT w1, count(*) AS cu FROM uni GROUP BY w1),
          |v AS (SELECT count(DISTINCT w1) AS v FROM uni),
          |terms AS (
          |  SELECT bi.doc_id,
          |         (CAST(cb.cb + 1 AS HUGEINT) * 1000000000000000)
          |           // (cu.cu + v.v) AS term_q
          |  FROM bi JOIN cb ON bi.w1 = cb.w1 AND bi.w2 = cb.w2
          |          JOIN cu ON bi.w1 = cu.w1
          |          CROSS JOIN v)
          |SELECT doc_id, count(*) AS n_bigrams,
          |       CAST(sum(term_q) AS DOUBLE) / 1000000000000000.0 AS sum_prob,
          |       (CAST(sum(term_q) AS DOUBLE) / 1000000000000000.0) / count(*)
          |         AS avg_prob
          |FROM terms
          |GROUP BY doc_id""".stripMargin,

      // pipeline gate + packing fused: the surv CTE replicates the gate,
      // then the same window-prefix-sum packing arithmetic runs over it
      "corpus_training_pipeline" ->
        """WITH wc AS (
          |  SELECT doc_id, w, count(*) AS c
          |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          |  GROUP BY 1, 2),
          |m AS (SELECT doc_id, max(c) AS top_cnt FROM wc GROUP BY 1),
          |keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text),
          |surv AS (
          |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
          |  FROM documents JOIN m USING (doc_id)
          |  WHERE doc_id IN (SELECT keep_id FROM keep)
          |    AND len(string_split(text, ' ')) >= 30
          |    AND top_cnt * 10 <= len(string_split(text, ' '))),
          |c AS (SELECT doc_id, n_toks,
          |             CAST(sum(n_toks) OVER (ORDER BY doc_id
          |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |                  AS BIGINT) AS cum_end
          |      FROM surv),
          |d AS (SELECT doc_id, n_toks, cum_end,
          |             cum_end - n_toks AS cum_start
          |      FROM c),
          |e AS (SELECT doc_id, n_toks, cum_start, cum_end,
          |             unnest(generate_series(cum_start // 2048,
          |                                    (cum_end - 1) // 2048)) AS seq_id
          |      FROM d)
          |SELECT doc_id, n_toks, seq_id,
          |       greatest(cum_start, seq_id * 2048) - cum_start AS doc_tok_start,
          |       greatest(cum_start, seq_id * 2048) - seq_id * 2048 AS seq_tok_start,
          |       least(cum_end, (seq_id + 1) * 2048)
          |         - greatest(cum_start, seq_id * 2048) AS span_toks
          |FROM e""".stripMargin,

      "corpus_curation_pipeline" ->
        s"""WITH wc AS (
           |  SELECT doc_id, w, count(*) AS c
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |  GROUP BY 1, 2),
           |m AS (SELECT doc_id, max(c) AS top_cnt FROM wc GROUP BY 1),
           |keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text),
           |s AS (SELECT doc_id, source,
           |             len(string_split(text, ' ')) AS n_words,
           |             $guessSql AS lang_guess
           |      FROM documents)
           |SELECT source, lang_guess, count(*) AS docs_kept,
           |       CAST(sum(n_words) AS BIGINT) AS total_ws_tokens
           |FROM s JOIN m USING (doc_id)
           |WHERE doc_id IN (SELECT keep_id FROM keep)
           |  AND n_words >= 30 AND top_cnt * 10 <= n_words
           |GROUP BY source, lang_guess""".stripMargin
    )
  }
}
