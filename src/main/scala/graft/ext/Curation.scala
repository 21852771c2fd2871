package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: within-document
  * repetition statistics (the Gopher-style "top n-gram fraction" family),
  * PII scrubbing, and the composed quality gate that chains language ID,
  * length/repetition filters, and exact-dedup keeper selection into the
  * one pass a 100 TB curation job actually runs.
  *
  * Repetition stats are per-document array folds — the whole computation
  * stays inside the row (no explode, no shuffle), in contrast to
  * [[TextAnalysis.bigramFreq]]'s corpus-level aggregation. The pipeline's
  * only shuffles are the exact-dedup digest groupBy (32-byte digests, never
  * texts, cross the wire) and the final small group-by.
  */
object Curation {

  /** Per-document word/bigram repetition. All outputs are exact integers
    * or deterministic strings (argmax ties broken by count desc, then
    * lexicographically smallest), so the DuckDB oracle matches hash-exact.
    *
    * The argmax is a SINGLE linear fold over the sorted array counting
    * runs — O(n log n) per document, one pass, no per-step array
    * allocation. (A naive `size(filter(ws, y -> y = x))` per distinct
    * value is O(distinct x n) in interpreted HOF lambdas and measured
    * ~100x slower at the 200k-doc stress scale.) Equal elements are
    * adjacent after the sort and the sort visits words ascending, so
    * keeping the FIRST strictly-longest run implements the count-desc,
    * word-asc tie-break for free. Nothing leaves the row.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // fold state: best (cnt, v) so far + current run (run, prev); finish
    // projects the best pair out
    def argmaxFold(over: String): String =
      s"""aggregate(
         |  array_sort($over),
         |  named_struct('cnt', 0, 'v', cast(null as string),
         |               'run', 0, 'prev', cast(null as string)),
         |  (acc, x) -> named_struct(
         |    'cnt', if(if(x <=> acc.prev, acc.run + 1, 1) > acc.cnt,
         |              if(x <=> acc.prev, acc.run + 1, 1), acc.cnt),
         |    'v',   if(if(x <=> acc.prev, acc.run + 1, 1) > acc.cnt, x, acc.v),
         |    'run', if(x <=> acc.prev, acc.run + 1, 1),
         |    'prev', x),
         |  acc -> named_struct('cnt', acc.cnt, 'v', acc.v))""".stripMargin
    docs
      .withColumn("ws", split(col("text"), " "))
      // slice(ws, 1, 0) = a typed empty array<string>; a bare array() would
      // be array<null> and break the fold's branch typing
      .withColumn("bg", expr(
        """case when size(ws) >= 2
          |     then transform(sequence(0, size(ws) - 2),
          |                    i -> concat_ws(' ', slice(ws, i + 1, 2)))
          |     else slice(ws, 1, 0) end""".stripMargin))
      .withColumn("topw", expr(argmaxFold("ws")))
      .withColumn("topb", expr(argmaxFold("bg")))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        col("topw.v").as("top_word"),
        col("topw.cnt").as("top_word_cnt"),
        (col("topw.cnt") * length(col("topw.v"))).as("top_word_chars"),
        col("topb.v").as("top_bigram"),
        col("topb.cnt").as("top_bigram_cnt"))
  }

  /** RE2/Java-portable patterns (no lookahead, no \p classes) so the same
    * text runs identically under Spark and the DuckDB oracle.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[A-Za-z0-9./_-]+"

  /** Mask emails and URLs, keeping the match counts a pipeline audits.
    * Emails scrub first — a URL never contains '@', so the order only
    * matters for not re-matching inside the '<EMAIL>' token. Column-arg
    * regex form keeps the patterns out of SQL-literal escaping.
    */
  def scrubPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).as("n_emails"),
      regexp_count(col("text"), lit(UrlPattern)).as("n_urls"),
      regexp_replace(
        regexp_replace(col("text"), lit(EmailPattern), lit("<EMAIL>")),
        lit(UrlPattern), lit("<URL>")).as("scrubbed"))

  /** Benchmark decontamination — flag corpus documents sharing word
    * n-grams with a benchmark/eval set, the standard hygiene pass before
    * training. Returns (doc_id, shared_grams) for every corpus doc with at
    * least one distinct n-gram in common.
    *
    * Shape at 100 TB: n-grams are deduped per document BEFORE exploding
    * (array_distinct in the row), only 32-byte digests leave the scan, and
    * the benchmark side — small by nature (an eval suite, not a corpus) —
    * is broadcast so the corpus never shuffles. If a benchmark ever
    * outgrew the broadcast threshold, drop the hint and the same plan
    * becomes a digest-keyed shuffle join.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame = {
    def gramRows(df: DataFrame): DataFrame = df
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""case when size(ws) >= $n
           |     then array_distinct(transform(sequence(0, size(ws) - $n),
           |                                   i -> concat_ws(' ', slice(ws, i + 1, $n))))
           |     else slice(ws, 1, 0) end""".stripMargin)).as("g"))
      .select(col("doc_id"), sha2(col("g"), 256).as("gsha"))
    val bench = gramRows(benchmark).select("gsha").distinct()
    gramRows(corpus)
      .join(broadcast(bench), "gsha")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Bloom-filter decontamination — the scale path for [[decontaminate]]
    * when the benchmark's exact n-gram set outgrows a broadcast: the
    * benchmark compiles into `kHashes` bit positions per gram
    * (pmod(mix64(fnv64(g), i), mBits), power-of-two `mBits` so the signed
    * pmod matches the oracle's unsigned arithmetic); a corpus gram FLAGS
    * iff all k of its positions are set. Pure integer bit logic — false
    * positives are DETERMINISTIC (the same hash algebra runs in the DuckDB
    * oracle), so the operator also reports the exact-join hit count and
    * the per-doc false-positive surplus (`bloom_hits − exact_hits`), the
    * number an FP-rate tuner actually reads.
    *
    * Shape at 100 TB: the bit table is at most min(mBits, k·|bench grams|)
    * scalar rows and broadcasts; the corpus side is a narrow gram explode,
    * the broadcast membership join, and one per-doc count agg — the
    * corpus never shuffles gram text (the exact-hit leg reuses
    * [[decontaminate]]'s digest join).
    */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 5, mBits: Int = 4096, kHashes: Int = 2): DataFrame = {
    require(mBits > 0 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two, got $mBits")
    require(kHashes >= 1 && n >= 1)
    graft.cdc.types.GraftFunctions.register(corpus.sparkSession)
    def gramRows(df: DataFrame): DataFrame = df
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""case when size(ws) >= $n
           |     then array_distinct(transform(sequence(0, size(ws) - $n),
           |                                   i -> concat_ws(' ', slice(ws, i + 1, $n))))
           |     else slice(ws, 1, 0) end""".stripMargin)).as("g"))
    // distinct positions per gram, with the gram's own position count
    // carried along: a gram whose k hashes collide needs only its DISTINCT
    // positions set (k-of-k on raw hashes would silently never flag it)
    def positions(grams: DataFrame): DataFrame = grams
      .withColumn("h", call_function("graft_fnv64", col("g")))
      .withColumn("ps", expr(
        s"""array_distinct(transform(sequence(0, ${kHashes - 1}),
           |  i -> pmod(graft_mix64(h, CAST(i AS BIGINT)), ${mBits}L)))"""
          .stripMargin))
      .select(col("doc_id"), col("g"), size(col("ps")).as("n_pos"),
        explode(col("ps")).as("pos"))
    val bits = positions(gramRows(benchmark)).select("pos").distinct()
    val benchSha = gramRows(benchmark)
      .select(sha2(col("g"), 256).as("gsha")).distinct()
    val corpusGrams = gramRows(corpus)
    val bloomFlagged = positions(corpusGrams)
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("doc_id"), col("g"), col("n_pos"))
      .agg(count(lit(1)).as("set_k"))
      .where(col("set_k") === col("n_pos"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("bloom_hits"))
    val exact = corpusGrams
      .select(col("doc_id"), sha2(col("g"), 256).as("gsha"))
      .join(broadcast(benchSha), Seq("gsha"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("exact_hits"))
    val counts = corpusGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    counts.join(bloomFlagged, Seq("doc_id"), "left_outer")
      .join(exact, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"),
        coalesce(col("exact_hits"), lit(0L)).as("exact_hits"))
      .withColumn("fp_surplus", col("bloom_hits") - col("exact_hits"))
  }

  /** Segment-level exact dedup with global keep-first semantics — the
    * C4-style pass that removes boilerplate lines repeated across a web
    * corpus (cookie banners, license footers) while keeping each segment's
    * FIRST occurrence in corpus order. Documents are cut into consecutive
    * `span`-word segments (the deterministic stand-in for newline-delimited
    * paragraphs: the synthetic corpus has no newlines, and a fixed span
    * keeps the splitter engine-portable); a segment survives iff its
    * (doc_id, idx) is the smallest among all identical segments corpus-wide.
    * Returns every input document with its segment counts and the text
    * reassembled from surviving segments in original order.
    *
    * Shape at 100 TB: one posexplode (narrow), then ONE digest-partitioned
    * shuffle — `row_number` over `partitionBy(sha2(segment))` ordered by
    * (doc_id, idx); each hash partition holds only the copies of its own
    * segments, so no partition-less window and no skew beyond true
    * duplicate multiplicity (a segment repeated billions of times — empty
    * lines in a real corpus — would be pre-filtered or length-gated
    * upstream). Reassembly is a second shuffle keyed by doc_id. Segment
    * text crosses each shuffle once; that is the minimum for an operator
    * that must return rewritten documents.
    */
  def segmentDedup(docs: DataFrame, span: Int = 10): DataFrame = {
    require(span >= 1, s"span must be positive, got $span")
    val segs = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(ws) + $span - 1) div $span - 1),
           |          i -> concat_ws(' ', slice(ws, i * $span + 1, $span)))"""
          .stripMargin)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "seg")
    val firstOccurrence = Window
      .partitionBy(sha2(col("seg"), 256))
      .orderBy(col("doc_id"), col("idx"))
    val kept = segs
      .withColumn("rn", row_number().over(firstOccurrence))
      .where(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        // idx is unique per doc, so the struct sort is a sort by idx
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(idx, seg))), x -> x.seg)"))
          .as("text_kept"))
    val totals = docs.select(
      col("doc_id"),
      expr(s"cast((size(split(text, ' ')) + $span - 1) div $span as bigint)")
        .as("n_segments"))
    // left join: a document can lose EVERY segment to earlier docs and must
    // still report (n_kept = 0, text_kept = '')
    totals.join(kept, Seq("doc_id"), "left").select(
      col("doc_id"),
      col("n_segments"),
      coalesce(col("n_kept"), lit(0L)).as("n_kept"),
      coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Deterministic stratified sampling for data mixing: keep a document iff
    * its hash bucket `pmod(graft_mix64(doc_id, seed), 1e6)` falls below its
    * source's keep rate in parts-per-million. `rates` is the mixing-weight
    * config `(source, keep_ppm)` — small by nature, broadcast so the corpus
    * never shuffles; sources absent from the config fall back to
    * `defaultPpm`. Hash-based (not `sample()`) so the result is exactly
    * reproducible across runs, cluster sizes, and engines, and samples are
    * NESTED: the keep set at 300k ppm is a subset of the keep set at 500k
    * ppm, which is what lets a pipeline dial a source's weight up or down
    * between epochs without resampling the world. Wholly map-side: filter +
    * broadcast join, no shuffle, no RNG state.
    */
  def stratifiedSample(
      docs: DataFrame,
      rates: DataFrame,
      seed: Long,
      defaultPpm: Long = 0L): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs
      .join(broadcast(rates), Seq("source"), "left")
      .withColumn(
        "bucket_ppm",
        pmod(call_function("graft_mix64", col("doc_id"), lit(seed)), lit(1000000L)))
      .where(col("bucket_ppm") < coalesce(col("keep_ppm"), lit(defaultPpm)))
      .select(col("doc_id"), col("source"), col("bucket_ppm"))
  }

  /** Temperature-based source mixing with the rates derived FROM the
    * corpus (the UnifiedQA/Gopher "temperature sampling" recipe at
    * τ = 1/2): a source's target share is proportional to sqrt(n_s), which
    * up-weights small sources against the head, and the per-source keep
    * rate is the ppm that hits `targetFraction` of the corpus overall —
    * then documents flow through the same deterministic mix64 gate as
    * [[stratifiedSample]]. τ is FIXED at 1/2 because sqrt is the one power
    * IEEE 754 requires correctly rounded — both engines produce the same
    * bit pattern, where a general pow(x, τ) has no cross-engine guarantee.
    *
    * The per-source table is planner-scale (one row per source), so the
    * sqrt-weight normalizer folds over a sorted in-row list (deterministic
    * sum order) and broadcasts; the corpus itself only ever meets the
    * broadcast rate row and the codegen'd hash gate — zero data-sized
    * shuffles beyond the source-count aggregation.
    *
    * Saturation caveat: keep_ppm is clamped at 1,000,000 per source (a
    * source cannot emit more documents than it has), and the clipped
    * budget is NOT redistributed — when a small source's sqrt share
    * saturates, the realized overall kept fraction undershoots
    * `targetFraction` by the clipped mass. This one-pass behavior is
    * intentional (a waterfilling iteration would redistribute but costs a
    * fixpoint loop over the source table); callers needing the exact
    * overall fraction should raise targetFraction or iterate externally.
    */
  def temperatureMix(
      docs: DataFrame, seed: Long, targetFraction: Double): DataFrame = {
    val perSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("w", sqrt(col("n_s").cast("double")))
    val z = perSrc.agg(
      aggregate(
        sort_array(collect_list(struct(col("source"), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("z"),
      sum(col("n_s")).as("n_total"))
    val rates = perSrc.crossJoin(broadcast(z))
      .withColumn("keep_ppm",
        least(lit(1000000L),
          floor(col("w") / col("z") * lit(targetFraction) * col("n_total") /
            col("n_s") * lit(1000000.0))))
      .select(col("source"), col("keep_ppm"))
    stratifiedSample(docs, rates, seed)
      .join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"), col("bucket_ppm"), col("keep_ppm"))
  }

  /** Hashed-feature linear classifier scoring — the fastText-style quality
    * model pass (CCNet/LLaMA-family filtering): every whitespace token
    * hashes into one of `dim` buckets, the model is a `(bucket, w)` weight
    * table, and a document's score is the sum of its tokens' weights
    * (integer fixed-point, so the oracle matches hash-exact; a trained
    * model ships its weights scaled to integers). `dim` must be a power of
    * two: the bucket is then the hash's low bits, identical under signed
    * (Spark pmod) and unsigned (oracle) arithmetic.
    *
    * Shape at 100 TB: explode is narrow, the weight table — at most `dim`
    * rows — broadcasts, and the only shuffle is the per-document sum with
    * map-side partial aggregation. For small `dim` the join could collapse
    * into an in-row map lookup; the join form is kept because it is the
    * model-as-data shape (swap the weights table, not the plan).
    */
  def hashedLinearScore(docs: DataFrame, weights: DataFrame, dim: Int): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(
        col("doc_id"),
        pmod(call_function("graft_fnv64", col("tok")), lit(dim.toLong)).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score"))
  }

  /** The composed curation gate, one declarative plan:
    *
    *   1. per-doc stats (words, top-word count, trigram language guess) —
    *      narrow, map-side;
    *   2. exact-dedup keeper per sha2-256 digest — the only data-sized
    *      shuffle, carrying digests, never documents;
    *   3. keep docs that are their group's keeper, have >= minWords words,
    *      and whose top word is under 1/repLimit of all words;
    *   4. corpus report grouped by (source, lang_guess).
    *
    * Catalyst plans 2+3 as one hash aggregate + equi-join on the digest;
    * AQE broadcasts the keeper side when it is small.
    */
  def pipeline(docs: DataFrame, minWords: Int = 30, repLimit: Int = 10): DataFrame =
    gated(docs, minWords, repLimit)
      .groupBy(col("source"), col("lang_guess"))
      .agg(
        count(lit(1)).as("docs_kept"),
        sum(col("n_words")).as("total_ws_tokens"))

  /** The gate of [[pipeline]] as a document set — (doc_id, text, source,
    * n_words, lang_guess) for every surviving document. Splitting the gate
    * from the report lets downstream stages (sequence packing, sharding)
    * compose onto the SAME one-pass plan; Catalyst prunes `text` away for
    * consumers that only aggregate.
    */
  def gated(docs: DataFrame, minWords: Int = 30, repLimit: Int = 10): DataFrame = {
    val stats = docs.select(
      col("doc_id"),
      col("source"),
      col("text"),
      sha2(col("text"), 256).as("sha"),
      size(split(col("text"), " ")).as("n_words"),
      // same sorted-runs fold as repetitionStats, counts only
      expr(
        """aggregate(array_sort(split(text, ' ')),
          |  named_struct('cnt', 0, 'run', 0, 'prev', cast(null as string)),
          |  (acc, x) -> named_struct(
          |    'cnt', greatest(acc.cnt, if(x <=> acc.prev, acc.run + 1, 1)),
          |    'run', if(x <=> acc.prev, acc.run + 1, 1),
          |    'prev', x),
          |  acc -> acc.cnt)""".stripMargin).as("top_cnt"),
      TextAnalysis.langGuess.as("lang_guess"))
    // Keeper as an aggregate + join, NOT a min-over-digest window: the
    // window form was tried (r14) and measured consistently SLOWER —
    // corpus_curation_pipeline 1.58 -> 1.97 s at sf0.1 and 4.2 -> 6.7 s at
    // sf1 — because Catalyst column-prunes this keeper subtree to a bare
    // scan + sha2 (top_cnt is never computed twice) and AQE broadcasts the
    // digest-count keeper table, so the join costs one cheap pass and no
    // stats-side shuffle, while the window pays a full-row exchange + sort.
    // The keeper table is (sha, min_id) scalars — broadcastable far beyond
    // any measurable SF; at the corpus size where it stops fitting, the
    // SMJ fallback is still only a digest-keyed scalar shuffle.
    val keepers = docs
      .groupBy(sha2(col("text"), 256).as("sha"))
      .agg(min(col("doc_id")).as("keep_id"))
    stats.join(keepers, "sha")
      .where(col("doc_id") === col("keep_id")
        && col("n_words") >= minWords
        && col("top_cnt") * repLimit <= col("n_words"))
      .select(col("doc_id"), col("text"), col("source"),
        col("n_words"), col("lang_guess"))
  }

  /** Sequence packing — the concat-and-chunk step that turns a curated
    * corpus into fixed-length training sequences: documents are laid out
    * end-to-end in `doc_id` order on one global token axis, then cut every
    * `seqLen` tokens (documents straddle cuts, GPT-style). Returns the
    * packing MANIFEST: one row per (document, sequence) span —
    *
    *   (doc_id, n_toks, seq_id, doc_tok_start, seq_tok_start, span_toks)
    *
    * i.e. tokens `[doc_tok_start, doc_tok_start + span_toks)` of `doc_id`
    * occupy positions `[seq_tok_start, ...)` of training sequence
    * `seq_id`. Every sequence is exactly `seqLen` tokens except the last;
    * a downstream writer joins text back by doc_id and emits shards.
    *
    * Shape at 100 TB: the corpus projects down to (doc_id, n_toks) — 16
    * bytes/row — before anything shuffles; the global token offsets come
    * from [[graft.cdc.split.DistributedRank.withGlobalRunningSum]] (one
    * range shuffle, per-partition totals, then a partition-parallel fold —
    * no single-partition Window anywhere); the explode fans out only
    * `span`-straddle rows (≤ n_toks/seqLen + 1 per doc). All-integer
    * arithmetic, so the oracle matches hash-exact.
    */
  def packSequences(docs: DataFrame, seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val toks = docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    graft.cdc.split.DistributedRank
      .withGlobalRunningSum(toks, "cum_end", col("n_toks"), Seq(col("doc_id")))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      // n_toks >= 1 always (split of "" is [""]), so cum_end - 1 >= cum_start
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_start div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .withColumn("span_start", greatest(col("cum_start"), col("seq_id") * seqLen))
      .select(
        col("doc_id"),
        col("n_toks"),
        col("seq_id"),
        (col("span_start") - col("cum_start")).as("doc_tok_start"),
        (col("span_start") - col("seq_id") * seqLen).as("seq_tok_start"),
        (least(col("cum_end"), (col("seq_id") + 1) * seqLen) - col("span_start"))
          .as("span_toks"))
  }

  /** Deterministic global shuffle + shard assignment — the epoch-shuffle a
    * training job runs before sharding: every document gets a pseudorandom
    * but engine-replicable position (rank of graft_mix64(doc_id, seed),
    * ties impossible past the doc_id tiebreak) and a round-robin shard.
    * Reshuffling an epoch is a seed change, not a new algorithm. Returns
    * (doc_id, pos, shard) — a permutation of 1..n.
    *
    * Shape at 100 TB: only (doc_id, mix) scalars enter
    * [[graft.cdc.split.DistributedRank.withGlobalRowNumber]] (one range
    * shuffle, per-partition counts, then a partition-parallel fold — no
    * global window, no single-partition sort); the shard writer joins text
    * back by doc_id.
    */
  def globalShuffle(docs: DataFrame, seed: Long, nShards: Int): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val keyed = docs.select(
      col("doc_id"),
      call_function("graft_mix64", col("doc_id"), lit(seed)).as("mix"))
    graft.cdc.split.DistributedRank
      .withGlobalRowNumber(keyed, "pos", Seq(col("mix"), col("doc_id")))
      .select(col("doc_id"), col("pos"),
        pmod(col("pos") - 1, lit(nShards.toLong)).as("shard"))
  }

  /** Vocabulary coverage — build the top-`vocabSize` vocabulary by
    * document frequency (ties broken lexicographically) and score every
    * document's in-vocabulary token fraction, the OOV-rate quality signal
    * (and the budget check before committing to a tokenizer vocab).
    * Returns (doc_id, n_toks, in_vocab, oov).
    *
    * Shape at 100 TB: document frequency dedups tokens inside the row
    * (array_distinct) before exploding, both aggregations are map-side
    * combined hash aggregates over single tokens, the top-k is a
    * TakeOrdered (never a global sort), and the vocab — vocabSize rows by
    * construction — broadcasts back for a left join the corpus never
    * shuffles for. All counts are longs.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val words = docs.select(
      col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val vocab = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("word").asc).limit(vocabSize)
      .select(col("word"), lit(1L).as("__in"))
    words
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(coalesce(col("__in"), lit(0L))).as("in_vocab"))
      .withColumn("oov", col("n_toks") - col("in_vocab"))
  }

  /** Corpus-conditional n-gram LM quality score (the CCNet/KenLM-style
    * perplexity filter, in its add-one-smoothed bigram form): train bigram
    * and unigram counts over the corpus itself, then score each document by
    * its mean conditional probability
    * `avg over positions of (c(w1,w2)+1)/(c(w1)+V)` where V is the corpus
    * vocabulary size. Low scores mark documents whose word transitions the
    * corpus has never seen — the same signal a KenLM perplexity gate uses,
    * but with probabilities kept in the exact-division domain (no log), so
    * the whole score is a deterministic IEEE fold the oracle replicates
    * bit-for-bit.
    *
    * Determinism: each term is the exact integer quotient
    * `(cb+1)·10^15 div (cu+V)` (fixed-point at 15 digits — far below the
    * signal in a smoothed probability), so the per-document sum is an
    * EXACT integer aggregate: order-insensitive, plain codegen hash agg,
    * no per-row collect/sort fold. The earlier double-domain form had to
    * collect_list every document's terms and fold them in position order
    * to pin IEEE addition order — corpus-sized row state and a non-codegen
    * HOF in the hot path, bought back here by quantizing the division
    * once instead of ordering the additions.
    *
    * Shape at scale: raw corpus rows cross the wire exactly TWICE — one
    * repartition by (w1,w2) shared by the bigram count (no further
    * exchange) and the term join (shuffle-hash, both sides co-partitioned,
    * no corpus-side sort), and the final per-document aggregation. The
    * unigram count and V ride a map-side-combined aggregate whose shuffle
    * carries vocabulary-scale partials; per-(w1,w2) terms are computed at
    * bigram-vocabulary scale and joined back, so no corpus-level row ever
    * joins a count table twice. Documents with fewer than two tokens have
    * no bigrams and drop out, stated behavior.
    */
  def ngramLmScore(docs: DataFrame): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    // (doc_id, "w1 w2") token-transition rows through the COMPILED
    // zero-copy span expression (byte-identical to the old interpreted
    // `transform(sequence(...), i -> struct(w[i-1], w[i]))` pipeline,
    // spec-pinned; <2 words -> empty array ≡ the old size guard). The
    // bigram rides as ONE string key — words cannot contain the space
    // separator, so string equality IS pair equality — which halves the
    // corpus-side key width and keeps w1 derivation at vocabulary scale.
    val bi = docs.select(col("doc_id"),
        explode(call_function("graft_bigrams", col("text"))).as("g"))
      .repartition(col("g"))
    val biCounts = bi.groupBy(col("g")).agg(count(lit(1)).as("cb"))
    // unigram counts: direct map-side-combined corpus aggregate — the
    // shuffle carries vocabulary-scale partials only; keeping this
    // independent of biCounts leaves the (heavier) bigram aggregation
    // with exactly one consumer, so it is computed once
    val uniCounts = docs
      .select(explode(split(col("text"), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocabV = uniCounts.agg(count(lit(1)).as("v"))
    // per-bigram fixed-point term at bigram-vocabulary scale: w1 = the
    // prefix before the first space (w1 itself never contains one)
    val termTable = biCounts
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(uniCounts.hint("shuffle_hash"), Seq("w1"))
      .crossJoin(broadcast(vocabV))
      .select(col("g"),
        expr("CAST(cb + 1 AS DECIMAL(38,0)) * 1000000000000000 DIV (cu + v)")
          .cast("decimal(20,0)").as("term_q"))
    // shuffle_hash: the corpus side is already hash-partitioned on g (the
    // repartition exchange above is shared with the bigram count via
    // exchange reuse); a sort-merge join would add a corpus-scale sort for
    // no benefit (the term table builds a hash map instead)
    bi.join(termTable.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term_q")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_q").cast("double") / lit(1e15)).as("sum_prob"))
      .withColumn("avg_prob", col("sum_prob") / col("n_bigrams"))
  }

  /** Token-budget mixture fill: the "30% code / 40% web" training-mix
    * recipe stated in TOKENS — each source keeps its best documents
    * (ranked by `score` desc, ties by doc_id) until the source's token
    * budget is exhausted; a document whose inclusion would cross the
    * budget is dropped along with everything ranked below it (strict
    * prefix, so membership is monotone in the budget: raising a budget
    * only ever ADDS documents).
    *
    * The per-source cumulative sum is NOT a per-source window (a handful
    * of giant sources would serialize into single partitions at 100 TB).
    * Instead: ONE global running sum ordered by (source, score desc,
    * doc_id) — the scale-safe two-phase pass of
    * [[graft.cdc.split.DistributedRank.withGlobalRunningSum]] over one range
    * shuffle — then each source's cumsum = global cumsum − the source's base
    * offset, where the bases are a source-cardinality aggregate broadcast
    * back (sources are contiguous in the global order, so the base is
    * `min(g_cum − n_toks)` within the source). Budgets broadcast too; the
    * corpus crosses the wire once, as (id, source, score, n_toks) scalars.
    *
    * @param budgets (source, budget_tokens) rows — the mix recipe
    */
  def tokenBudgetMix(docs: DataFrame, budgets: DataFrame, score: Column): DataFrame =
    sourceCumulative(docs, score)
      .join(broadcast(budgets), Seq("source"))
      .where(col("cum_toks") <= col("budget_tokens"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("cum_toks"))

  /** The shared prefix of the budget mixes: per-doc token counts with each
    * source's within-source cumulative (`cum_toks`, ordered score desc).
    * Downstream aggregates (budgets, totals) read the running sum's range
    * shuffle output instead of re-scanning and re-splitting the text.
    */
  private def sourceCumulative(docs: DataFrame, score: Column): DataFrame = {
    // space-count arithmetic, not size(split(...)): single-space splitting
    // always yields spaces+1 elements (empties included), so the count
    // needs no per-row array materialization — and this projection is
    // evaluated twice (the range partitioner samples it before the
    // shuffle), so the saving lands twice
    val nToks = (length(col("text"))
      - length(call_function("replace", col("text"), lit(" "), lit("")))
      + lit(1)).cast("long")
    val toks = docs.select(col("doc_id"), col("source"), score.as("score"),
      nToks.as("n_toks"))
    val ordered = Seq(col("source").asc, col("score").desc, col("doc_id").asc)
    val summed = graft.cdc.split.DistributedRank
      .withGlobalRunningSum(toks, "g_cum", col("n_toks"), ordered)
    val bases = summed.groupBy(col("source"))
      .agg(min(col("g_cum") - col("n_toks")).as("base"))
    summed.join(broadcast(bases), Seq("source"))
      .withColumn("cum_toks", col("g_cum") - col("base"))
  }

  /** Leakage-safe train/holdout split: the assignment key is the
    * document's CONTENT digest, not its id, so every member of an
    * exact-duplicate cluster lands on the same side by construction — the
    * split can never leak a training document's duplicate into the holdout
    * set (the classic eval-contamination failure of id-keyed splits).
    * bucket = fnv64(sha256-hex ++ seed-tag) mod nBuckets; `nBuckets` must
    * be a power of two so the bucket is the hash's low bits (signed pmod
    * == the oracle's unsigned mod) and holdout = bucket < holdoutBuckets.
    *
    * Shape at 100 TB: one narrow projection — digest, hash, bucket, label
    * are all in-row, whole-stage-codegen'd; no shuffle at all. Re-seeding
    * (a new seedTag) re-deals every bucket independently.
    */
  def holdoutSplit(
      docs: DataFrame, seedTag: String,
      nBuckets: Int = 128, holdoutBuckets: Int = 13): DataFrame = {
    require(nBuckets > 0 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets must be a power of two, got $nBuckets")
    require(holdoutBuckets > 0 && holdoutBuckets < nBuckets)
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"), col("source"),
      pmod(call_function("graft_fnv64",
        concat(sha2(col("text"), 256), lit(seedTag))), lit(nBuckets.toLong)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < holdoutBuckets, "holdout").otherwise("train"))
  }

  /** DSIR-style data selection via hashed-n-gram importance weights (Xie
    * et al., "Data Selection for Language Models via Importance
    * Resampling", NeurIPS 2023): featurize every document as counts of
    * hashed word-bigrams, fit add-one-smoothed bag-of-ngrams distributions
    * over a target slice p (source == targetSource) and the raw remainder
    * q, then score each raw document by how much more target-like than
    * raw-like its features are and keep the top k. DSIR ranks by
    * `sum_b c_b * (log p_b - log q_b)`; this implementation keeps the
    * per-bucket weight in the exact-division domain — `p_b - q_b` instead
    * of the log ratio, same zero crossing — for the same reason as
    * [[ngramLmScore]]: every term is then one IEEE divide/subtract/multiply
    * and the per-document fold orders terms by bucket inside the row, so
    * the DuckDB oracle reproduces the score bit-for-bit (log is the one op
    * with no cross-engine bit guarantee).
    *
    * Shape at 100 TB: the bigram explode is narrow; per-document bucket
    * counts are ONE map-side-combined hash aggregate; both corpus
    * distributions are at most `dim` rows and broadcast back onto the
    * features (the corpus never shuffles for them); the per-document score
    * is a second hash aggregate folding inside the row; and selection is a
    * TakeOrdered top-k, never a global sort. `dim` must be a power of two
    * so the bucket (fnv64 mod dim) is the hash's low bits — identical
    * under Spark's signed pmod and the oracle's unsigned arithmetic.
    * Documents with fewer than two tokens have no features and are never
    * selected, stated behavior.
    */
  def dsirSelect(docs: DataFrame, targetSource: String, dim: Int, k: Int): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val isTarget = col("source") === lit(targetSource)
    // graft_bigrams: one native pass, zero-copy byte spans — pinned equal
    // to the split/transform/concat HOF it replaces (<2 words -> no rows,
    // same as the old size filter)
    val grams = docs
      .select(col("doc_id"), col("source"),
        explode(call_function("graft_bigrams", col("text"))).as("g"))
      .select(col("doc_id"), col("source"),
        pmod(call_function("graft_fnv64", col("g")), lit(dim.toLong)).as("bucket"))
    val docFeat = grams
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    // per-bucket target/raw gram counts fold off docFeat, and the fitted
    // distribution — at most `dim` rows, the MODEL, not the data — is
    // pinned once (localCheckpoint): the broadcast join and the totals
    // fold both read the materialized table, so the corpus is exploded
    // exactly twice (scoring features + fit) instead of once per
    // aggregate branch (AQE does not canonicalize the branches for
    // exchange reuse: the scoring side's source filter pushes into its
    // scan). Every bucket a raw document has appears in dists (same
    // underlying rows), so the join below is inner — cp is 0, not
    // absent, where the target never hashed in
    val dists = docFeat.groupBy(col("bucket")).agg(
      sum(when(isTarget, col("c")).otherwise(0L)).as("cp"),
      sum(when(isTarget, 0L).otherwise(col("c"))).as("cq"))
      .localCheckpoint()
    val totals = dists.agg(
      sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    docFeat.where(!isTarget)
      .join(broadcast(dists), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"), col("bucket"),
        (col("c") *
          ((col("cp") + lit(1.0)) / (col("np") + lit(dim.toDouble)) -
           (col("cq") + lit(1.0)) / (col("nq") + lit(dim.toDouble)))).as("term"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_feats"),
        // compiled sort+fold, same values as the HOF (spec-pinned)
        call_function("graft_sorted_fold",
          collect_list(struct(col("bucket"), col("term")))).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** HyperLogLog register table for distinct-content counting per source:
    * bucket = top `p` bits of mix64(fnv64(text)), rho = leading-zero rank
    * of the remaining 64−p bits (+1), register = max rho per (source,
    * bucket). The splitmix64 finalizer matters: raw FNV-1a's high bits are
    * measurably non-uniform on short similar strings (a 2000-doc fixture
    * landed in 24 of 256 buckets and estimated 25), and HLL's guarantees
    * assume uniform bits.
    * This IS the mergeable sketch — registers from disjoint corpus shards
    * combine by plain `max`, which is exactly what the groupBy computes, so
    * the operator scales to 100 TB with ONE shuffle of (source, bucket,
    * rho) scalars (map-side combined down to ≤2^p rows per source per
    * partition) while the texts never leave their scan.
    *
    * Everything is integer bit arithmetic ([[graft.cdc.types.Clz64]] is one
    * hardware instruction inside whole-stage codegen), so the DuckDB oracle
    * replays it hash-exact — no engine-dependent float in sight.
    */
  def hllRegisters(docs: DataFrame, p: Int): DataFrame = {
    require(p >= 7 && p <= 16, s"p must be in [7,16], got $p")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val mask = (1L << (64 - p)) - 1
    val h = call_function("graft_mix64",
      call_function("graft_fnv64", col("text")), lit(0L))
    docs.where(col("text").isNotNull)
      .select(col("source"),
        shiftrightunsigned(h, 64 - p).as("bucket"),
        h.bitwiseAND(lit(mask)).as("masked"))
      .withColumn("rho",
        when(col("masked") === 0L, lit(65 - p))
          .otherwise(call_function("graft_clz64", col("masked")) + lit(1 - p)))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("reg"), count(lit(1)).as("n_items"))
  }

  /** Per-source approximate-distinct sketch (Flajolet et al. 2007 HLL):
    * folds [[hllRegisters]] into the harmonic estimate while keeping every
    * ORACLE-COMPARABLE column in the exact domain. The register sum is
    * carried scaled by 2^64 as DECIMAL (term = 2^(64−reg), zero registers
    * contribute 2^64 each — all exact powers of two), exported as a digit
    * string, and the raw estimate is ONE IEEE divide of two
    * correctly-rounded doubles (the spliced constant α·m²·2^64 — exact in
    * double because m and 2^64 only shift the exponent — over the sum
    * parsed back from its digit string, a correctly-rounded conversion in
    * both engines). The small-range linear-counting branch needs ln — the
    * one op with no cross-engine bit guarantee (see [[dsirSelect]]) — so
    * `estimate` is the API's headline column while the driver oracle
    * compares everything else plus the deterministic `lc_applies` branch
    * bit.
    */
  def distinctSketch(docs: DataFrame, p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(docs, p), Seq("source"), p)
      .withColumnRenamed("n_items", "n_docs")

  /** Fold a register table — (group cols, bucket, reg, n_items) — into the
    * per-group HLL estimate columns. Shared by [[distinctSketch]] and
    * [[windowedUserSketch]]; see distinctSketch for the exact-domain
    * reasoning behind each column.
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    val m = 1L << p
    val alpha = 0.7213 / (1.0 + 1.079 / m) // the m >= 128 constant
    val cNum = alpha * m * m * java.lang.Math.scalb(1.0, 64)
    val two64 = expr("CAST('18446744073709551616' AS DECIMAL(20,0))")
    regs
      .groupBy(groupCols.map(col): _*).agg(
        sum(col("n_items")).as("n_items"),
        count(lit(1)).as("present_buckets"),
        // 2^(64-reg) built as (1 << 63-reg) * 2 entirely in the exact
        // integer/decimal domain: reg >= 1 keeps the shift in-range, and a
        // double->decimal cast here would round through Double.toString
        // (Spark's Cast goes via BigDecimal.valueOf) and corrupt low digits
        sum(expr("CAST(shiftleft(1L, 63 - reg) AS DECIMAL(19,0)) * 2"))
          .as("sum_present"))
      .withColumn("zero_buckets", lit(m) - col("present_buckets"))
      .withColumn("sum_scaled",
        (col("sum_present") + col("zero_buckets").cast("decimal(6,0)") * two64)
          .cast("decimal(38,0)").cast("string"))
      .withColumn("est_raw", lit(cNum) / col("sum_scaled").cast("double"))
      .withColumn("lc_applies",
        col("zero_buckets") > 0 && col("est_raw") <= lit(2.5 * m))
      .withColumn("estimate", when(col("lc_applies"),
        lit(m.toDouble) * log(lit(m.toDouble) / col("zero_buckets")))
        .otherwise(col("est_raw")))
  }

  /** HLL set algebra over STORED register tables: the distinct-content
    * cardinality of any grouping of sources, answered from the per-source
    * [[hllRegisters]] alone — the corpus is never re-scanned. Union is
    * register-wise max (HLL's lossless merge: max-merged registers are
    * IDENTICAL to the registers of the concatenated input, not an
    * approximation of them), so the estimate from merged sketches equals
    * the direct sketch of the union bit-for-bit — which is exactly what
    * the oracle proves by computing the DuckDB side directly on the
    * regrouped corpus. `groupCol` maps each source to its group label.
    *
    * This is the warehouse pattern that matters at 100 TB: keep one tiny
    * register table per ingest shard (p=8 ⇒ ≤256 rows each), answer
    * "distinct content across ANY subset" forever after from scalars.
    */
  def sketchUnion(regs: DataFrame, groupCol: Column, p: Int = 8): DataFrame =
    hllEstimate(
      regs.groupBy(groupCol.as("source"), col("bucket"))
        .agg(max(col("reg")).as("reg"), sum(col("n_items")).as("n_items")),
      Seq("source"), p)
      .withColumnRenamed("n_items", "n_docs")

  /** Distinct-user cardinality per (event_type, event-time hour) — the
    * stream-analytics face of the HLL sketch over the changelog's events:
    * unique users per hour per event class without ever materializing the
    * user set. Integer keys skip the fnv pass — mix64(user_id) alone is the
    * uniformizer — and the hour is pure integer division on the normalized
    * epoch-nano clock (no date functions, so the DuckDB replay is exact).
    * The REGISTER layer is the streaming surface: [[windowedUserRegisters]]
    * is a single stateful aggregation (the groupBy IS the state store —
    * StreamingSketchSpec proves stream == batch), and the estimate is a
    * stateless presentation fold the sink applies (cascading both
    * aggregations in one streaming query would trip Spark's
    * multi-stateful-operator correctness check, rightly).
    */
  def windowedUserSketch(events: DataFrame, p: Int = 8): DataFrame =
    hllEstimate(windowedUserRegisters(events, p),
      Seq("event_type", "hour_bucket"), p)

  /** The mergeable register state behind [[windowedUserSketch]] — runs
    * unchanged as a Structured Streaming aggregation.
    */
  def windowedUserRegisters(events: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 7 && p <= 16, s"p must be in [7,16], got $p")
    graft.cdc.types.GraftFunctions.register(events.sparkSession)
    val mask = (1L << (64 - p)) - 1
    val h = call_function("graft_mix64", col("user_id"), lit(0L))
    events.where(col("user_id").isNotNull)
      .select(col("event_type"),
        expr("ts div 3600000000000").as("hour_bucket"),
        shiftrightunsigned(h, 64 - p).as("bucket"),
        h.bitwiseAND(lit(mask)).as("masked"))
      .withColumn("rho",
        when(col("masked") === 0L, lit(65 - p))
          .otherwise(call_function("graft_clz64", col("masked")) + lit(1 - p)))
      .groupBy(col("event_type"), col("hour_bucket"), col("bucket"))
      .agg(max(col("rho")).as("reg"), count(lit(1)).as("n_items"))
  }

  /** Exact per-source token-length quantiles — the corpus-profiling pass
    * that sizes packing/batching budgets: for each source and each target
    * fraction q_num/q_den, the EXACT order statistic of the whitespace
    * token count (rank = ceil(q·n), 1-based, doc_id tie-break). Fractions
    * stay integers end-to-end, so the rank arithmetic replays exactly.
    *
    * Window-free at any group shape: ONE global [[DistributedRank]] over
    * the total order (source, n_toks, doc_id) — source leads, so each
    * source's rows form a contiguous rank block and the per-source rank is
    * just grn − first_grn + 1. A `row_number over (partition by source)`
    * would serialize each source through one task (fatal when one source
    * is 80% of a 100 TB corpus); the global-rank form keeps every
    * partition range-balanced regardless of group skew. Targets are
    * |sources|·|qs| scalar rows, broadcast to one equi-join — no window,
    * no cartesian.
    */
  def lengthQuantiles(docs: DataFrame,
      qs: Seq[(Int, Int)] = Seq((1, 4), (2, 4), (3, 4), (9, 10))): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (n, d) => n >= 1 && n <= d },
      s"quantile fractions must satisfy 1 <= q_num <= q_den, got $qs")
    val toks = docs.where(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val ranked = graft.cdc.split.DistributedRank.withGlobalRowNumber(
      toks, "grn", Seq(col("source"), col("n_toks"), col("doc_id")))
    val qArr = array(qs.map { case (n, d) =>
      struct(lit(n).as("q_num"), lit(d).as("q_den")) }: _*)
    // `src` not `source`: targets derives FROM ranked, so reusing the name
    // would be an ambiguous self-join reference after the equi-join
    val targets = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("grn")).as("first_grn"))
      .select(col("source").as("src"), col("n_docs"), col("first_grn"),
        explode(qArr).as("q"))
      .select(col("src"), col("n_docs"),
        col("q.q_num").as("q_num"), col("q.q_den").as("q_den"),
        (col("first_grn") +
          expr("(q.q_num * n_docs + q.q_den - 1) div q.q_den") - 1)
          .as("target_grn"))
    ranked.join(broadcast(targets), col("grn") === col("target_grn"))
      .select(col("src").as("source"), col("q_num"), col("q_den"),
        col("n_docs"), col("n_toks"))
  }

  /** All word `n`-gram occurrences of the corpus, one row per occurrence
    * (column `g`) — the count-min item stream. Unlike the decontamination
    * gram pass this does NOT per-doc-deduplicate: CMS counts frequencies,
    * so every occurrence must reach the counters.
    */
  def shingleOccurrences(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1)
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    // graft_ngrams: zero-copy byte spans, byte-identical to the old
    // split/transform/concat_ws pipeline (incl. the <n-words empty case)
    docs.where(col("text").isNotNull)
      .select(explode(call_function("graft_ngrams", col("text"), lit(n))).as("g"))
  }

  /** Count-min sketch counters (Cormode & Muthukrishnan 2005) over an item
    * stream (column `g`): `d` hash rows × `w = 2^wBits` cells, cell value =
    * number of occurrences hashing there. Row hashes are
    * mix64(fnv64(g), row) — the same deterministic family as the minhash
    * and Bloom operators, so the whole table replays bit-exact in the
    * oracle. The sketch is MERGEABLE (cell-wise sum) and the groupBy IS the
    * streaming state: the identical plan runs as a single stateful
    * Structured Streaming aggregation (StreamingSketchSpec proves stream ==
    * batch counters).
    *
    * Shape at 100 TB: one shuffle of (row, pos) pairs with map-side
    * combine, so each input partition emits at most d·w partial cells no
    * matter how many items it holds; the finished sketch is ≤ d·w rows —
    * broadcastable state that answers frequency queries without touching
    * the corpus again.
    */
  def cmsCounters(items: DataFrame, wBits: Int = 12, d: Int = 4): DataFrame = {
    require(wBits >= 1 && wBits <= 30, s"wBits must be in [1,30], got $wBits")
    require(d >= 1 && d <= 16, s"d must be in [1,16], got $d")
    graft.cdc.types.GraftFunctions.register(items.sparkSession)
    val w = 1L << wBits
    items
      .withColumn("h", call_function("graft_fnv64", col("g")))
      .select(explode(expr(
        s"""transform(sequence(0, ${d - 1}),
           |  i -> struct(CAST(i AS BIGINT) AS i,
           |              pmod(graft_mix64(h, CAST(i AS BIGINT)), ${w}L) AS pos))"""
          .stripMargin)).as("cell"))
      .select(col("cell.i").as("i"), col("cell.pos").as("pos"))
      .groupBy(col("i"), col("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point frequency estimates for a dictionary of `terms` (column `g`)
    * from a finished [[cmsCounters]] sketch: est(g) = min over the d rows
    * of the cell g hashes to — an upper bound on the true count (≥ exact,
    * never below), within εN with probability 1−δ for w = e/ε, d = ln(1/δ).
    * The counters broadcast (≤ d·w rows), so the estimate is row-local to
    * the dictionary — the corpus is NOT scanned. Terms absent from every
    * counted cell estimate as the cell values they collide into, exactly
    * like a real CMS; a term hashing to an untouched cell estimates 0 via
    * the left join.
    */
  def cmsEstimate(counters: DataFrame, terms: DataFrame,
      wBits: Int = 12, d: Int = 4): DataFrame = {
    graft.cdc.types.GraftFunctions.register(terms.sparkSession)
    val w = 1L << wBits
    terms.select(col("g")).distinct()
      .withColumn("h", call_function("graft_fnv64", col("g")))
      .select(col("g"), explode(expr(
        s"""transform(sequence(0, ${d - 1}),
           |  i -> struct(CAST(i AS BIGINT) AS i,
           |              pmod(graft_mix64(h, CAST(i AS BIGINT)), ${w}L) AS pos))"""
          .stripMargin)).as("cell"))
      .select(col("g"), col("cell.i").as("i"), col("cell.pos").as("pos"))
      .join(broadcast(counters), Seq("i", "pos"), "left_outer")
      .groupBy(col("g"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Heavy-hitter n-grams with CMS-overestimate accounting: every n-gram
    * whose SKETCH estimate reaches `minCount`, alongside its exact count —
    * so `cms_over = cms_est − exact_cnt` surfaces the sketch's collision
    * error as a first-class tuning signal (the Bloom fp_surplus pattern).
    * CMS guarantees est ≥ exact, so NO true heavy hitter is missed; rows
    * with exact_cnt < minCount are the sketch's false admissions, which
    * reproduce bit-exact in the oracle because the hash algebra is
    * deterministic. The default w = 2^12 against the corpus's gram
    * vocabulary is deliberately loaded so those collisions actually appear.
    *
    * Shape at 100 TB: the sketch pass is the bounded-state scan above; the
    * exact leg is ONE vocabulary-scale digest agg (the dedup_exact shape)
    * that production would restrict to the CMS-admitted shortlist — here it
    * covers the vocabulary so the oracle can prove the estimate column for
    * every candidate, admitted or not.
    */
  def cmsHeavyHitters(docs: DataFrame, n: Int = 3, minCount: Long = 5L,
      wBits: Int = 12, d: Int = 4): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val w = 1L << wBits
    // the corpus is shingled ONCE: the exact per-gram counts (vocabulary-
    // scale, pinned) serve both legs, and the sketch cells derive from them
    // by the CMS mergeability identity — a cell's occurrence count IS the
    // sum of the counts of the grams hashing into it (cell-wise sum is the
    // sketch's own merge operation), so the counters are bit-identical to
    // cmsCounters over the raw occurrence stream (CurationSpec pins this)
    val exact = shingleOccurrences(docs, n)
      .groupBy(col("g")).agg(count(lit(1)).as("exact_cnt"))
      .localCheckpoint()
    val counters = exact
      .withColumn("h", call_function("graft_fnv64", col("g")))
      .select(col("exact_cnt"), explode(expr(
        s"""transform(sequence(0, ${d - 1}),
           |  i -> struct(CAST(i AS BIGINT) AS i,
           |              pmod(graft_mix64(h, CAST(i AS BIGINT)), ${w}L) AS pos))"""
          .stripMargin)).as("cell"))
      .select(col("exact_cnt"), col("cell.i").as("i"), col("cell.pos").as("pos"))
      .groupBy(col("i"), col("pos"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    cmsEstimate(counters, exact.select(col("g")), wBits, d)
      .join(exact, Seq("g"))
      .where(col("cms_est") >= minCount)
      .select(col("g"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("cms_over"))
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual Pretraining",
    * ICLR 2023): visit languages by ascending epoch-capped size and give
    * each `min(cap, remaining / languages_left)` — small languages keep
    * their full `epochCap` epochs, the surplus flows to larger ones, and no
    * language is over-sampled past its cap. All-integer (floor division),
    * so the fold replays exactly as the oracle's recursive CTE.
    */
  def unimaxBudgets(naturalTokens: Seq[(String, Long)], totalBudget: Long,
      epochCap: Long): Seq[(String, Long)] = {
    require(totalBudget >= 0 && epochCap >= 1)
    val caps = naturalTokens.map { case (l, t) => (l, t * epochCap) }
      .sortBy { case (l, c) => (c, l) }
    var remaining = totalBudget
    val n = caps.size
    caps.zipWithIndex.map { case ((l, cap), i) =>
      val alloc = math.min(cap, remaining / (n - i))
      remaining -= alloc
      (l, alloc)
    }
  }

  /** Language-balanced training mix: [[unimaxBudgets]] decides each
    * language's token budget, then the scale-proven prefix fill of
    * [[tokenBudgetMix]] keeps each language's best documents up to it.
    *
    * The per-language totals ARE collected to the driver — bounded by the
    * language inventory (dozens), the same justified driver-probe shape as
    * the chunk planner, never document-sized. The corpus itself flows only
    * through tokenBudgetMix's single global prefix-sum shuffle.
    */
  def unimaxMix(docs: DataFrame, totalBudget: Long, epochCap: Long,
      score: Column): DataFrame =
    unimaxFill(docs, _ => totalBudget, epochCap, score)

  /** [[unimaxMix]] with the budget stated as a FRACTION of the corpus's
    * total tokens (`num/den`, floor) — the form a fixture can pin across
    * scale factors, since language proportions are stable while absolute
    * token counts are not.
    */
  def unimaxMixFraction(docs: DataFrame, budgetNum: Long, budgetDen: Long,
      epochCap: Long, score: Column): DataFrame =
    unimaxFill(docs, tot => tot.map(_._2).sum * budgetNum / budgetDen,
      epochCap, score)

  private def unimaxFill(docs: DataFrame,
      budgetOf: Seq[(String, Long)] => Long, epochCap: Long,
      score: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE tokenization pass: the cumulative frame's checkpoint serves both
    // the per-language totals probe (language-cardinality collect, the
    // justified driver-probe shape) and the final budget filter — the
    // previous form paid a second full corpus scan + split just for the
    // totals. n_toks is NULL exactly when text is NULL, so the null filter
    // reproduces the old `text IS NOT NULL` totals semantics.
    val cum = sourceCumulative(
      docs.drop("source").withColumn("source", col("lang")), score)
    val totals = cum.where(col("n_toks").isNotNull)
      .groupBy(col("source")).agg(sum(col("n_toks")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val budgets = unimaxBudgets(totals, budgetOf(totals), epochCap)
      .toDF("source", "budget_tokens")
    cum.join(broadcast(budgets), Seq("source"))
      .where(col("cum_toks") <= col("budget_tokens"))
      .select(col("doc_id"), col("source").as("lang"), col("n_toks"),
        col("cum_toks"), col("budget_tokens"))
  }

  /** Train a linear quality probe IN the engine: hashed-bigram features
    * (the [[dsirSelect]] featurization), label 1.0 for the target slice /
    * 0.0 for the rest, squared-loss full-batch gradient descent —
    * `w -= lr * Σ_d (pred_d − y_d)·x_d / N` per step. Squared loss, not
    * logistic, deliberately: every op is +‑×‑÷ (no exp/log), so the whole
    * training run replays bit-exact in the DuckDB oracle. This is the
    * fastText-style quality-filter fit (train on "looks like the target
    * corpus") that pipelines usually ship out to a separate job.
    *
    * Shape at 100 TB: featurization is ONE corpus pass pinned by
    * localCheckpoint; each step is two scalar-row aggregates (per-doc
    * prediction, per-bucket gradient); the weight vector (≤ dim rows) is
    * the MODEL — it lives on the driver and broadcasts back per step,
    * exactly the [[Bpe]] merge-table / chunk-planner driver-probe shape,
    * never data-sized.
    *
    * Order-deterministic: the per-doc prediction folds its terms by
    * bucket and the per-bucket gradient folds by doc_id — every double op
    * in a defined sequence, so DuckDB replays the fit hash-exact (the
    * [[Similarity.kmeansRefine]] pattern).
    */
  def linearProbeFit(docs: DataFrame, targetSource: String, dim: Int,
      iters: Int, lr: Double): DataFrame = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim must be a power of two, got $dim")
    require(iters >= 1 && lr > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    graft.cdc.types.GraftFunctions.register(spark)
    // graft_bigrams: native pass, pinned equal to the HOF form (dsirSelect)
    val feats = docs.select(col("doc_id"),
        when(col("source") === lit(targetSource), lit(1.0)).otherwise(lit(0.0)).as("y"),
        explode(call_function("graft_bigrams", col("text"))).as("g"))
      .select(col("doc_id"), col("y"),
        pmod(call_function("graft_fnv64", col("g")), lit(dim.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("y"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      // NOT re-clustered by doc_id before the checkpoint: that was tried
      // (r14) to make each iteration's prediction aggregate and error join
      // exchange-free, and measured a consistent small LOSS (0.95-0.96x at
      // sf0.1/sf1) — the per-doc error table broadcasts at any measurable
      // SF, so the join never shuffled the features to begin with, and the
      // extra build-time exchange is pure cost. Revisit only for corpora
      // where nDocs outgrows the broadcast threshold.
      .localCheckpoint()
    val nDocs = feats.select(col("doc_id")).distinct().count()
    // compiled sort+fold, same values as the sort_array HOF (spec-pinned)
    def orderedFold(key: Column, term: Column) =
      call_function("graft_sorted_fold",
        collect_list(struct(key.as("k"), term.as("term"))))
    val w = Array.fill(dim)(0.0)
    for (_ <- 0 until iters) {
      val wDf = w.toIndexedSeq.zipWithIndex
        .map { case (wv, b) => (b.toLong, wv) }.toDF("bucket", "wv")
      val errs = feats.join(broadcast(wDf), Seq("bucket"))
        .select(col("doc_id"), col("y"), col("bucket"),
          (col("wv") * col("c")).as("term"))
        .groupBy(col("doc_id"), col("y"))
        .agg(orderedFold(col("bucket"), col("term")).as("pred"))
        .select(col("doc_id"), (col("pred") - col("y")).as("err"))
      val grads = feats.join(errs, Seq("doc_id"))
        .select(col("bucket"), col("doc_id"), (col("err") * col("c")).as("term"))
        .groupBy(col("bucket"))
        .agg(orderedFold(col("doc_id"), col("term")).as("g"))
        .collect()
      grads.foreach { r =>
        val b = r.getLong(0).toInt
        w(b) = w(b) - lr * r.getDouble(1) / nDocs
      }
    }
    w.toIndexedSeq.zipWithIndex.map { case (wv, b) => (b.toLong, wv) }
      .toDF("bucket", "weight")
  }

  /** C4-style blocklist gate (Raffel et al. 2020 dropped any page whose
    * text hit the "bad words" list): per-document hit count against a
    * case-insensitive word blocklist, plus the first offending token for
    * auditability. Entirely in-row — the blocklist rides into the plan as
    * a literal set (realistic lists are hundreds of words; a corpus-sized
    * list would instead broadcast-join exploded tokens) so the pass is one
    * narrow projection at any corpus size, no shuffle.
    */
  def blocklistGate(docs: DataFrame, blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist gates nothing")
    val bl = array(blocklist.map(w => lit(w.toLowerCase)): _*)
    docs.where(col("text").isNotNull)
      .withColumn("__bl", bl)
      .withColumn("__hits",
        expr("filter(split(text, ' '), w -> array_contains(__bl, lower(w)))"))
      .select(col("doc_id"), col("source"),
        size(col("__hits")).as("n_hits"),
        // guarded: ANSI mode makes a bare element_at on an empty array throw
        when(size(col("__hits")) > 0, lower(element_at(col("__hits"), 1)))
          .as("first_hit"),
        (size(col("__hits")) === 0).as("kept"))
  }

  /** Padding-efficient inference batching: documents bucket by the
    * power-of-two length class (smallest 2^b >= n_toks — one `clz64`
    * instruction), and each bucket tiles into batches of
    * `min(maxBatchDocs, maxBatchTokens / 2^b)` documents (floor, min 1 so
    * over-long documents degrade to singleton batches instead of
    * vanishing), so every batch pads to its bucket size and stays inside
    * the token budget. The classic dynamic-batching shape serving and
    * eval pipelines run.
    *
    * The per-bucket rank is NOT a per-bucket window (one dominant length
    * class would serialize into a single partition): ONE global
    * range-partitioned row number ordered by (bucket, n_toks, doc_id) —
    * [[graft.cdc.split.DistributedRank.withGlobalRowNumber]] — then each
    * bucket's rank = global row number − the bucket's broadcast base, the
    * same decomposition as [[tokenBudgetMix]].
    */
  def lengthBatches(docs: DataFrame, maxBatchTokens: Long,
      maxBatchDocs: Long): DataFrame = {
    require(maxBatchTokens >= 1 && maxBatchDocs >= 1)
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val toks = docs.where(col("text").isNotNull).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("bucket",
        when(col("n_toks") <= 1L, lit(0))
          .otherwise(lit(64) - call_function("graft_clz64", col("n_toks") - 1)))
    val ranked = graft.cdc.split.DistributedRank.withGlobalRowNumber(
      toks, "g_rn", Seq(col("bucket").asc, col("n_toks").asc, col("doc_id").asc))
    val bases = ranked.groupBy(col("bucket")).agg(min(col("g_rn")).as("base"))
    ranked.join(broadcast(bases), Seq("bucket"))
      .withColumn("padded_len", expr("shiftleft(1L, bucket)"))
      .withColumn("batch_docs",
        greatest(lit(1L), least(lit(maxBatchDocs),
          expr(s"${maxBatchTokens}L div padded_len"))))
      // bucket_rank is 0-based so batch_idx is a plain floor division
      .select(col("doc_id"), col("n_toks"), col("bucket"), col("padded_len"),
        (col("g_rn") - col("base")).as("bucket_rank"),
        expr("(g_rn - base) div batch_docs").as("batch_idx"),
        col("batch_docs"))
  }

  /** RAG-style sliding-window chunking: width-word chunks every `stride`
    * words, the final window clamped to end exactly at the document's last
    * word (so coverage is total, no sub-width tail duplicating the
    * previous chunk's suffix). Emits per-chunk token counts and fnv64
    * fingerprints, NOT the chunk text — at 100 TB the chunk table is the
    * index you join back to the corpus by (doc_id, chunk_idx), not a copy
    * of it. The explode is narrow and shuffle-free; fingerprints compute
    * inside whole-stage codegen.
    */
  def ragChunks(docs: DataFrame, width: Int = 64, stride: Int = 48): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width,
      s"need 1 <= stride <= width, got width=$width stride=$stride")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs.where(col("text").isNotNull)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_chunks", expr(
        s"CASE WHEN size(ws) <= $width THEN 1 " +
          s"ELSE 1 + (size(ws) - $width + $stride - 1) div $stride END"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, n_chunks - 1),
           |  i -> concat_ws(' ', slice(ws,
           |         greatest(0, least(i * $stride, size(ws) - $width)) + 1,
           |         $width)))""".stripMargin)))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        size(split(col("col"), " ")).as("n_toks"),
        call_function("graft_fnv64", col("col")).as("fingerprint"))
  }

  /** T5-style span corruption: cut each document's word stream into
    * `spanLen`-word spans, mask span `i` of document `d` iff
    * `pmod(mix64(d * 2^20 + i, seed), maskEveryK) == 0`, and emit the
    * (input, target) training pair — masked spans replaced by
    * `<extra_id_j>` sentinels numbered in document order, the target the
    * sentinel-prefixed concatenation of the masked text (Raffel et al.,
    * "Exploring the Limits of Transfer Learning", §3.1.4).
    *
    * The whole rewrite is ONE in-row fold over the span array — no
    * explode, no window, no shuffle: at 100 TB this is a map-only stage
    * whose output partitioning is the input's. The mask decision is the
    * same splitmix64 family every sampling gate here uses, so the oracle
    * replays it bit-for-bit.
    */
  def spanCorruption(docs: DataFrame, spanLen: Int = 8, maskEveryK: Int = 5,
      seed: Long = 11L): DataFrame = {
    require(spanLen >= 1, s"spanLen must be positive, got $spanLen")
    require(maskEveryK >= 1, s"maskEveryK must be positive, got $maskEveryK")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs.where(col("text").isNotNull)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("spans", expr(
        s"""transform(sequence(0, (size(ws) + $spanLen - 1) div $spanLen - 1),
           |          i -> concat_ws(' ', slice(ws, i * $spanLen + 1, $spanLen)))"""
          .stripMargin))
      // the mask key is doc_id * 2^20 + i: a document with more spans than
      // the 2^20 slot would silently alias into another doc's mask stream —
      // fail loudly instead (same guard as Dedup.segmentNearDup)
      .withColumn("spans", expr(
        s"""if(size(spans) <= ${Dedup.MaxSegsPerDoc}L, spans,
           |   raise_error(concat('more than ${Dedup.MaxSegsPerDoc} spans in document ',
           |                      cast(doc_id as string))))""".stripMargin))
      .withColumn("folded", expr(
        s"""aggregate(
           |  sequence(0, size(spans) - 1),
           |  named_struct('j', 0L,
           |               'inp', cast(array() as array<string>),
           |               'tgt', cast(array() as array<string>)),
           |  (acc, i) -> if(
           |    pmod(graft_mix64(doc_id * ${Dedup.MaxSegsPerDoc}L + i, ${seed}L),
           |         ${maskEveryK}L) = 0L,
           |    named_struct('j', acc.j + 1L,
           |      'inp', array_append(acc.inp, concat('<extra_id_', acc.j, '>')),
           |      'tgt', array_append(acc.tgt,
           |               concat('<extra_id_', acc.j, '> ', spans[i]))),
           |    named_struct('j', acc.j,
           |      'inp', array_append(acc.inp, spans[i]),
           |      'tgt', acc.tgt)),
           |  acc -> named_struct('input_text', array_join(acc.inp, ' '),
           |                      'target_text', array_join(acc.tgt, ' '),
           |                      'n_masked', acc.j))""".stripMargin))
      .select(col("doc_id"),
        col("folded.input_text").as("input_text"),
        col("folded.target_text").as("target_text"),
        col("folded.n_masked").as("n_masked"),
        size(col("spans")).cast("long").as("n_spans"))
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022): a deterministic
    * coin `pmod(mix64(doc_id, seed), 2)` selects half the corpus; for
    * selected documents two word positions `lo <= hi` are drawn from
    * independent mix64 streams and the document is re-emitted in PSM order
    * — `<fim_prefix> P <fim_suffix> S <fim_middle> M` — so the model
    * learns infilling while the untouched half preserves ordinary
    * left-to-right training. Pure per-row projection: no explode, no
    * shuffle, three splitmix draws and two array slices per document.
    */
  def fimTransform(docs: DataFrame, seed: Long = 23L): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    docs.where(col("text").isNotNull)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("fim_applied", expr(
        s"pmod(graft_mix64(doc_id, ${seed}L), 2L) = 0L"))
      .withColumn("p1", expr(
        s"pmod(graft_mix64(doc_id, ${seed + 1}L), size(ws) + 1L)"))
      .withColumn("p2", expr(
        s"pmod(graft_mix64(doc_id, ${seed + 2}L), size(ws) + 1L)"))
      .withColumn("lo", least(col("p1"), col("p2")))
      .withColumn("hi", greatest(col("p1"), col("p2")))
      .select(col("doc_id"), col("fim_applied"),
        when(col("fim_applied"), concat(
          lit("<fim_prefix> "),
          expr("array_join(slice(ws, 1, cast(lo as int)), ' ')"),
          lit(" <fim_suffix> "),
          expr("array_join(slice(ws, cast(hi as int) + 1, size(ws) - cast(hi as int)), ' ')"),
          lit(" <fim_middle> "),
          expr("array_join(slice(ws, cast(lo as int) + 1, cast(hi - lo as int)), ' ')")))
          .otherwise(col("text")).as("out_text"),
        col("lo"), col("hi"))
  }
}
