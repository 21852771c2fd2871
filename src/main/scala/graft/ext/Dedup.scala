package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Scale design: every variant avoids the O(n²) cartesian product —
  * candidates are generated by key-equality joins (blocking keys, LSH band
  * buckets, simhash chunks), which shuffle-partition by key and therefore
  * scale linearly with data + bucket skew, not pairs.
  */
object Dedup {

  /** Exact dedup — hash aggregation on the full text. At 100 TB you'd hash
    * the text first (same plan shape, smaller shuffle rows); kept raw here
    * so the oracle can compare the text column.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct words per doc — shared first stage of the Jaccard variant. */
  private def words(docs: DataFrame) =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      explode(array_distinct(split(col("text"), " "))).as("word"))

  /** Distinct 3-word shingles per doc, as an array column — the classic
    * MinHash/SimHash feature set. Shingling matters doubly here: it is the
    * standard formulation AND it keeps feature cardinality high even on
    * small vocabularies, which keeps LSH bucket sizes (and therefore
    * candidate-pair counts) bounded.
    */
  // kept (test-visible) as the reference formulation the fused
  // graft_shingle_* expressions must agree with
  private[ext] def shingleArray(docs: DataFrame, n: Int = 3) =
    docs
      // hoist the split: referencing `text` inside the lambda would re-split
      // the string once per shingle (O(words^2) per doc)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        array_distinct(expr(
          s"transform(sequence(0, greatest(size(ws) - $n, 0)), i -> concat_ws(' ', slice(ws, i + 1, $n)))"
        )).as("sh"))

  /** N-gram (word-set) Jaccard near-dup pairs with (lang, n_chars) blocking.
    * Formulated as an inverted-index join — word-level equi-join then
    * per-pair intersection counts — NOT a cross join, so it shuffles by
    * (lang, n_chars, word) and survives scale-up. At 100 TB you'd add a
    * document-frequency cutoff on hot words; the synthetic corpus is small
    * enough to keep every word.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccard(docs, threshold, maxDf = Long.MaxValue)

  /** The bounded-recall cutoff: a CONSTANT per-word candidate budget, the
    * inverted-index analogue of the SemDeDup cell policy (there the cell
    * count grows so per-cell volume stays constant; here the "cells" are
    * words, whose count grows with the corpus on its own, so the analogue
    * is a fixed per-word df cap). A corpus-proportional cap (sqrt(n) or a
    * df fraction) does NOT defuse the bomb — measured on this corpus the
    * hottest block df is 340 at 500 k docs, under sqrt(n) = 708, so a
    * sqrt cap drops nothing while candidate volume grows 52x on 10x data
    * (8.3 M -> 438 M rows); at df <= 64 it is 8.3 M -> 67 M (sub-linear).
    * RECALL DECAYS WITH CORPUS GROWTH: 99.4% of the >= 0.5 pairs survive
    * at sf1, but a duplicate CLUSTER larger than the cap pushes its own
    * shared words past maxDf and vanishes — at sf10 only 27% of the
    * jaccard >= 0.9 pairs survive (SCALE_NOTES_r13.md, per-band recall).
    * Use this as a policy knob for shedding boilerplate-dominated overlap;
    * use [[ngramJaccardPrefix]] when the full exact pair set is required.
    */
  val DefaultMaxDf = 64L

  /** The bounded-join form: words whose document frequency exceeds `maxDf`
    * are dropped from the inverted index (a hot word joining k documents
    * makes k² candidate rows — the classic skew bomb). Set sizes keep
    * every word, so the estimated jaccard can only shrink: the cutoff
    * output is always a SUBSET of the exact pairs (proven in ExtOpsSpec),
    * trading recall — on boilerplate-only overlap AND on dup clusters
    * bigger than the cap (see [[DefaultMaxDf]]) — for a bounded per-key
    * join. The lossless alternative is [[ngramJaccardPrefix]].
    */
  def ngramJaccard(docs: DataFrame, threshold: Double, maxDf: Long): DataFrame = {
    val w = words(docs)
    val sizes = w.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val indexed =
      if (maxDf == Long.MaxValue) w
      else {
        val df_ = w.groupBy(col("lang"), col("n_chars"), col("word"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") <= maxDf)
          .select(col("lang"), col("n_chars"), col("word"))
        w.join(df_, Seq("lang", "n_chars", "word"))
      }
    val a = indexed.select(col("doc_id").as("doc_a"), col("lang"), col("n_chars"), col("word"))
    val b = indexed.select(col("doc_id").as("doc_b"), col("lang"), col("n_chars"), col("word"))
    val inter = a.join(b, Seq("lang", "n_chars", "word"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "size_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))
  }

  /** The EXACT scale path: prefix-filtered word-set Jaccard (the AllPairs /
    * PPJoin prefix-filtering principle). Words are totally ordered by
    * ascending (document frequency, word) within each block; a pair with
    * J >= t must share at least one word inside BOTH docs' prefixes of
    * length |d| - ceil(t*|d|) + 1 (prefix filtering with per-doc overlap
    * bound alpha_d = ceil(t*|d|) <= |a inter b|, which J >= t implies via
    * inter >= t*union >= t*|d|), so the inverted index holds ONLY prefixes
    * — the hot boilerplate words that make a df cutoff's k^2 candidate bomb
    * sort to the END of the order and leave the index, while every true
    * near-dup pair still collides on a rare shared word. ZERO false
    * negatives, unlike the [[DefaultMaxDf]] cutoff whose constant budget
    * sheds real duplicate clusters once a clone group outgrows the cap
    * (measured at sf10: df<=64 keeps 27% of the J>=0.9 pairs; this form
    * keeps 100% by construction — ExtOpsSpec pins cell-for-cell equality
    * with the unbounded form on adversarial corpora). Verification never re-creates the bomb:
    * candidates carry only their prefix-overlap count o_pp, a PPJoin-style
    * positional-suffix upper bound prunes the pairs whose bound cannot
    * reach the threshold (sf10: 31.5M candidates -> 4.3M verified for
    * 1.6M output), and only survivors fetch the two word ARRAYS
    * (row-local at any corpus size) for an in-row exact intersection.
    * Output is EXACTLY the unbounded [[ngramJaccard]] result, same columns
    * and arithmetic, so both share one DuckDB oracle.
    */
  def ngramJaccardPrefix(docs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = words(docs)
    // document frequency as a full-partition window over the SAME posting
    // rows instead of a groupBy + join-back: the old form evaluated the
    // whole `words` subtree twice (once under the df aggregate, once as the
    // join's posting side) and paid a join on the widest key — the window
    // reads one exchange, one evaluation. df counts rows per block-word,
    // identical to the aggregate (w is per-doc distinct, so rows == docs).
    val byWord = Window.partitionBy(col("lang"), col("n_chars"), col("word"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = w.withColumn("df", count(lit(1)).over(byWord))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("word"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("pl", col("sz") - ceil(lit(threshold) * col("sz")) + 1)
    // the inverted index holds ONLY (doc, block, word) — every per-doc
    // constant (size, suffix length, last prefix key) rides a separate
    // one-row-per-doc meta table joined AFTER the pair aggregation, so the
    // candidate join shuffles minimal-width rows
    val prefix = ranked.where(col("rk") <= col("pl"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("word"))
    val meta = ranked.where(col("rk") === col("pl"))
      .select(col("doc_id"), col("sz"), (col("sz") - col("pl")).as("suf"),
        struct(col("df"), col("word")).as("last_key"))
    // candidate pairs with their prefix-prefix overlap count o_pp (the
    // groupBy replaces a distinct() at the same shuffle cost and buys the
    // positional bound below for free)
    val cand = prefix.select(col("doc_id").as("doc_a"), col("lang"), col("n_chars"), col("word"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("lang"), col("n_chars"), col("word")),
        Seq("lang", "n_chars", "word"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("o_pp"))
    // positional-suffix upper bound on the full intersection: a common word
    // the prefix join missed lies beyond at least one doc's last prefix
    // word in the global (df, word) order. When last_key_a < last_key_b the
    // class prefixA∩suffixB is empty (it would need a word <= last_key_a
    // AND > last_key_b), so every missed word is in suffixA — bound by
    // suf_a; symmetric for >; equal keys empty both cross classes. Pairs
    // whose BOUND can't reach the threshold skip array verification — the
    // filter reuses the final filter's exact arithmetic on ub >= inter, so
    // it can never prune a pair the final filter would keep.
    val bounded = cand
      .join(meta.select(col("doc_id").as("doc_a"), col("sz").as("size_a"),
        col("suf").as("suf_a"), col("last_key").as("lk_a")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("sz").as("size_b"),
        col("suf").as("suf_b"), col("last_key").as("lk_b")), "doc_b")
      .withColumn("ub", col("o_pp") +
        when(col("lk_a") < col("lk_b"), col("suf_a"))
          .when(col("lk_a") > col("lk_b"), col("suf_b"))
          .otherwise(least(col("suf_a"), col("suf_b"))))
      .where(col("ub").cast("double") / (col("size_a") + col("size_b") - col("ub"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"), col("size_a"), col("size_b"))
    // exact verification, survivors only: both word ARRAYS are row-local at
    // any corpus size; intersect in-row, never through an index self-join
    // both fetch joins shuffle `sets` by the same underlying doc_id, so the
    // exchange is planned once and reused (measured: forcing shuffle_hash
    // here LOST 28% at sf10 — the rebuilt per-partition hash maps of ~KB
    // arrays cost more than the reused sorted exchange)
    val sets = w.groupBy(col("doc_id")).agg(collect_list(col("word")).as("ws"))
    bounded
      .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("ws_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("ws_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ws_a"), col("ws_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("size_a"),
        col("size_b"), col("jaccard"))
  }

  /** MinHash + LSH banding: numHashes word-level min-hashes -> bands of
    * `rowsPerBand` -> band-signature equi-join -> candidate pairs with the
    * number of agreeing bands. Hash family: native FNV-1a base hash per
    * shingle re-mixed per hash index with graft_mix64 — one string hash per
    * shingle, 8-byte mixes for the family, safe under ANSI overflow
    * checking (the wraparound lives in Java code), and engine-replicable so
    * the whole operator has a DuckDB oracle. One shuffle to aggregate
    * signatures, one to bucket bands, one to count pairs — no cartesian
    * product anywhere. The band join keys on the signature values
    * themselves (band_id + array of minhashes), the operator's true
    * semantics — hashing the band to a bucket id is only a compression of
    * the same key.
    */
  /** (doc_id, band_id, sig) band signatures — the shared first stage of
    * batch LSH pairing and the streaming dedup filter. One narrow
    * projection: graft_shingle_minhash fuses shingle construction, FNV, the
    * k-mix family and the min fold into a single compiled pass straight
    * from the word array (no shingle strings materialized), so nothing
    * shuffles until a consumer joins/groups by band.
    */
  def bandSignatures(docs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val sigs = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        call_function("graft_shingle_minhash", col("ws"), lit(3), lit(numHashes)).as("ms"))
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band_id"),
        slice(col("ms"), b * rowsPerBand + 1, rowsPerBand).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"), col("bb.sig").as("sig"))
  }

  /** Segment capacity per document in [[segmentNearDup]]'s synthetic unit
    * id — 2^20 span-sized segments (a 10M-word document at span 10).
    */
  val MaxSegsPerDoc = 1048576L

  /** Paragraph-level NEAR-dup detection (the RefinedWeb/CCNet fuzzy
    * line-dedup shape): split every document into span-word segments and
    * run the corpus-proven MinHash+LSH band machinery over the segments
    * themselves, so boilerplate paragraphs that VARY slightly between
    * documents (injected dates, version strings) still pair — exact
    * segment dedup ([[Curation.segmentDedup]]) only catches byte-identical
    * spans. Each segment becomes a synthetic unit `doc_id * 2^20 + idx`,
    * making [[minhashLsh]] apply unchanged; pairs decode back to
    * (doc, idx) pairs. A document with more than 2^20 segments fails
    * loudly (raise_error) rather than aliasing ids.
    *
    * Shape at 100 TB: the segment explode is narrow and the only shuffle
    * is minhashLsh's band-signature equi-join carrying (seg_id, band sig)
    * scalars — segment text never crosses the wire.
    */
  def segmentNearDup(docs: DataFrame, span: Int = 10,
      numHashes: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    require(span >= 1, s"span must be positive, got $span")
    val segs = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(ws) + $span - 1) div $span - 1),
           |          i -> concat_ws(' ', slice(ws, i * $span + 1, $span)))"""
          .stripMargin)))
      .select(
        when(col("pos") < MaxSegsPerDoc,
          col("doc_id") * MaxSegsPerDoc + col("pos"))
          .otherwise(expr(s"raise_error('more than $MaxSegsPerDoc segments in one document')"))
          .as("doc_id"),
        col("col").as("text"))
    minhashLsh(segs, numHashes, rowsPerBand).select(
      expr(s"doc_a div $MaxSegsPerDoc").as("doc_a"),
      expr(s"doc_a % $MaxSegsPerDoc").cast("int").as("idx_a"),
      expr(s"doc_b div $MaxSegsPerDoc").as("doc_b"),
      expr(s"doc_b % $MaxSegsPerDoc").cast("int").as("idx_b"),
      col("n_bands"))
  }

  def minhashLsh(docs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = bandSignatures(docs, numHashes, rowsPerBand)
    bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental-ingest novelty gate — the production shape of dedup at
    * 100 TB: the already-ingested corpus is represented ONLY by its stored
    * LSH band postings (`indexBands`: distinct (band_id, sig)) and exact
    * content digests (`indexDigests`: distinct sha-256 hex), never
    * re-scanned; a new batch document is admitted iff it collides with
    * neither. Two semi-join probes against the stored index tables, then
    * one anti-join back to the batch — batch text never shuffles (band
    * signatures and 64-char digests do), and the corpus-sized side is the
    * pre-built index, read once per ingest instead of recomputed.
    *
    * Byte-identical re-submissions are caught by the digest leg even when
    * LSH is configured coarsely; near-duplicates of indexed content are
    * caught by any shared band signature (same collision rule as
    * [[minhashLsh]] at the same parameters).
    *
    * NULL-text batch rows are admitted by construction (documented edge of
    * the admission contract): `sha2(NULL)` is NULL so the digest semi-join
    * can never hit, and a NULL word array yields no band signatures, so the
    * near leg drops them too. They surface with NULL `n_bytes`, letting a
    * downstream gate decide — a content-dedup gate has no basis to reject
    * a row with no content.
    */
  def noveltyGate(indexBands: DataFrame, indexDigests: DataFrame,
      batch: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nearHit = bandSignatures(batch, numHashes, rowsPerBand)
      .join(indexBands, Seq("band_id", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    val exactHit = batch
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .join(indexDigests, Seq("digest"), "left_semi")
      .select(col("doc_id"))
    batch
      .join(nearHit.union(exactHit).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        // octet_length, not length: n_bytes must be UTF-8 bytes, not
        // characters, for any non-ASCII corpus
        octet_length(col("text")).cast("long").as("n_bytes"))
  }

  /** The stored index tables [[noveltyGate]] probes, built once from the
    * ingested corpus (in production: maintained incrementally, see
    * [[cdcDedupedCorpus]] for the changelog-driven variant of the same
    * idea).
    */
  def noveltyIndex(corpus: DataFrame, numHashes: Int, rowsPerBand: Int)
      : (DataFrame, DataFrame) =
    (bandSignatures(corpus, numHashes, rowsPerBand)
       .select(col("band_id"), col("sig")).distinct(),
     corpus.select(sha2(col("text"), 256).as("digest")).distinct())

  /** Embedding-cosine near-dup pairs: same-`label` blocking (the embedding
    * table's coarse class key) then exact double-precision cosine, keeping
    * pairs at or above `threshold`. The blocking key makes this a
    * shuffle-by-label equi-join, not a cartesian product; at 100 TB the
    * label block would be refined with an LSH prefilter (see
    * [[Similarity.lshTopK]]) before the exact rerank, same plan shape.
    */
  def embeddingCosine(emb: DataFrame, threshold: Double): DataFrame = {
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    // cast to double arrays BELOW the join's exchange: once per row, not
    // once per pair
    val e = emb.select(col("vec_id"), col("label"), Similarity.toDouble("embedding").as("vd"))
      .withColumn("nrm", Similarity.norm(col("vd")))
    val a = e.select(col("vec_id").as("doc_a"), col("label"),
      col("vd").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("doc_b"), col("label"),
      col("vd").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .where(col("doc_a") < col("doc_b"))
      // explode(array(_)) is a Generate barrier: without it Catalyst
      // inlines sim into the Filter and evaluates the dot twice per pair
      // (once to filter, once to project)
      .select(col("doc_a"), col("doc_b"), col("label"),
        explode(array(
          Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** [[embeddingCosine]] with the label block refined by a deterministic
    * semantic cell — the "LSH/cluster prefilter before the exact rerank"
    * production path the embeddingCosine scaladoc points at, materialized
    * as part of the operator contract: candidate pairs must share BOTH the
    * given `label` and the cosine-nearest of `nCells` seed centroids
    * ([[Similarity.seedCentroids]], the same deterministic machinery
    * [[semanticDedup]] oracles bit-exactly). Within-block cost drops from
    * |label-block|^2 to sum over cells of |label∩cell|^2; nCells dials
    * recall vs cost exactly as in SemDeDup, and at 100 TB it grows with
    * the corpus so blocks stay ~1k rows regardless of scale — the fix for
    * fixed-cardinality labels, whose blocks otherwise grow linearly with
    * the corpus and pair cost quadratically.
    *
    * Plan shape: seed broadcast + map-side argmax assignment (no shuffle
    * for the refinement), then the same single shuffle-by-(label, cell)
    * pair join. Returns (doc_a, doc_b, label, sim).
    */
  def embeddingCosineCells(emb: DataFrame, threshold: Double, nCells: Int): DataFrame = {
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col("vec_id"), col("label"),
        Similarity.toDouble("embedding").as("vd"))
      .withColumn("nrm", Similarity.norm(col("vd")))
    // seeds come from the label-free vector domain (same as semanticDedup):
    // the label refines the cell, not the other way round
    val seeds = Similarity.seedCentroids(
      base.select(col("vec_id"), col("vd"), col("nrm")), nCells)
    val assigned = Similarity.assignCells(Similarity.cellSimilaritiesWith(base, seeds))
    val a = assigned.select(col("vec_id").as("doc_a"), col("label"), col("cell"),
      col("vd").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("doc_b"), col("label"), col("cell"),
      col("vd").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("label", "cell"))
      .where(col("doc_a") < col("doc_b"))
      // explode(array(_)) barrier as in embeddingCosine: one dot per pair
      .select(col("doc_a"), col("doc_b"), col("label"),
        explode(array(
          Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then search for near-duplicate pairs
    * ONLY within each cluster — the cluster id becomes the blocking key
    * that [[embeddingCosine]] takes as a given `label`, computed here from
    * the vectors themselves. Assignment is the cosine-nearest of `nCells`
    * deterministic seed centroids ([[Similarity.ivfTopK]]'s machinery, so
    * the whole operator keeps a bit-exact DuckDB oracle; a production run
    * would feed k-means-refined centroids through the same two stages).
    * Returns (doc_a, doc_b, cell, sim) pairs at or above `threshold`;
    * compose with [[clusterAssign]] for keeper selection.
    *
    * Shape at 100 TB: seed broadcast + map-side argmax assignment (the
    * corpus never shuffles for clustering), then ONE shuffle by cell for
    * the within-cell self-join. Cost is sum over cells of |cell|^2 —
    * SemDeDup's trade: nCells dials between recall (few big cells) and
    * cost (many small cells); production runs use ~100k cells for 100M+
    * points, keeping cells at the ~1k-row scale this fixture exercises.
    */
  def semanticDedup(emb: DataFrame, nCells: Int, threshold: Double): DataFrame = {
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    semanticDedupBody(emb,
      Similarity.cellSimilarities(Similarity.normed(emb), nCells), threshold)
  }

  /** [[semanticDedup]] against an externally fitted centroid table
    * (cell, cv, cnrm) — e.g. [[Similarity.kmeansRefine]]'s output — the
    * "fit refined centroids offline once" production path, mirroring
    * [[Similarity.ivfTopKWith]]. Refined cells are tighter, so the same
    * threshold catches more true near-dups per within-cell pair scanned.
    */
  def semanticDedupWith(emb: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    semanticDedupBody(emb,
      Similarity.cellSimilaritiesWith(Similarity.normed(emb), centroids), threshold)
  }

  private def semanticDedupBody(
      emb: DataFrame,
      cellSims: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = Similarity.assignCells(cellSims)
    val a = assigned.select(col("vec_id").as("doc_a"), col("cell"),
      col("vd").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("doc_b"), col("cell"),
      col("vd").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      // explode(array(_)) barrier as in embeddingCosine: evaluate the dot
      // once per pair, not once to filter + once to project
      .select(col("doc_a"), col("doc_b"), col("cell"),
        explode(array(
          Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Transitive duplicate-cluster assignment — the step that turns candidate
    * PAIRS (from [[minhashLsh]]/[[simhashPairs]]/[[ngramJaccard]]) into a
    * usable dedup decision: every document gets the minimum doc_id of its
    * connected component as `keeper_id`, so A~B~C collapses to one keeper
    * even when A~C was never a candidate pair.
    *
    * Algorithm: iterative min-label propagation with pointer jumping — each
    * round a node's label becomes min(own, neighbors' labels, label of its
    * label). Pure hash-partitioned equi-joins + map-side-combinable min
    * aggregation per round; pointer jumping halves label-chain depth each
    * round, so convergence is O(log n) rounds, not O(diameter) (cf. the
    * large-star/small-star formulation in Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14).
    *
    * Converged components FREEZE: propagation is driven by a delta frontier
    * — only labels that changed last round are re-joined against the edge
    * set and the jump chain, so per-round work shrinks to the still-active
    * components instead of rescanning every label each round (the classic
    * delta-stepping refinement; at 100 TB most components are size 1-2 and
    * converge in round one, so the frontier collapses fast). Correctness
    * invariant: every label change enters the frontier, and symmetric edges
    * deliver it to all neighbors (and chain-followers) exactly one round
    * later; round one seeds the frontier with every node. No driver-side
    * graph state: the driver only reads one scalar per round (the frontier
    * size, which reaching ZERO is the fixpoint — labels only decrease).
    *
    * `localCheckpoint` truncates the iterative lineage each round (at
    * cluster scale you'd use a reliable `checkpoint` dir instead — same
    * plan, durable blocks). Singleton documents keep themselves.
    *
    * Returns (doc_id, keeper_id, cluster_size).
    */
  def clusterAssign(docs: DataFrame, pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = docs.select(col("doc_id").as("id"), col("doc_id").as("lab"))
      .localCheckpoint()
    // frontier = labels that changed last round; round one is special-cased
    // below (every node is in the frontier, but labels are still
    // self-pointing, so the edge join degenerates to a projection of the
    // edge set and the pointer jump is the identity — neither needs a join)
    var frontier = labels
    // driver-known frontier size: drives both the loop exit and the
    // broadcast decision. Seeded "unknown but nonzero" so round one never
    // pays a count job for a frontier it doesn't read.
    var nChanged = Long.MaxValue
    var it = 0
    while (nChanged > 0) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"clusterAssign did not converge in $maxIter rounds — " +
            "pointer jumping converges in O(log n); is the pair set unstable?")
      // after round one the frontier is typically a vanishing fraction of
      // the nodes (sf10 measured: all -> 337 -> 62 -> 1 -> 0), so the
      // per-round joins broadcast it — late rounds cost one narrow pass
      // over the checkpointed edge/label sets with NO shuffle, instead of
      // re-shuffling everything to meet a handful of changed labels
      val bcast = nChanged <= 100000L
      def maybeB(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
      // neighbors of changed labels (edges are symmetric, so every side
      // sees the change), plus chain-followers whose label POINTS AT a
      // changed node (pointer jump over the delta only)
      val updates0 =
        if (it == 0)
          // round one: frontier == all nodes with lab == id, so
          // edges ⋈ frontier is just the edge list relabeled and the jump
          // contributes nothing — min over incoming edge sources
          edges.select(col("dst").as("id"), col("src").as("lab"))
        else {
          val viaEdge = edges.join(maybeB(frontier), edges("src") === frontier("id"))
            .select(col("dst").as("id"), col("lab"))
          val viaJump = labels.as("a")
            .join(maybeB(frontier.as("c")), col("a.lab") === col("c.id"))
            .select(col("a.id").as("id"), col("c.lab").as("lab"))
          viaEdge.unionByName(viaJump)
        }
      val updates = updates0.groupBy(col("id")).agg(min(col("lab")).as("cand"))
      // updates is bounded by the frontier's neighborhood — broadcast it on
      // the same signal, so the full label set is never reshuffled in the
      // (many, cheap) late rounds
      val next = labels.join(maybeB(updates), Seq("id"), "left")
        .select(col("id"), col("lab"),
          least(col("lab"), coalesce(col("cand"), col("lab"))).as("nl"))
        .localCheckpoint()
      frontier = next.where(col("nl") < col("lab"))
        .select(col("id"), col("nl").as("lab"))
      labels = next.select(col("id"), col("nl").as("lab"))
      nChanged = frontier.count()
      it += 1
    }
    // cluster size as a full-partition window on ONE label exchange —
    // the aggregate+join form shuffled the (checkpointed) label set twice
    // (agg partials + the join's label side) and sorted both join sides
    val byLab = org.apache.spark.sql.expressions.Window.partitionBy(col("lab"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(byLab))
      .select(col("id").as("doc_id"), col("lab").as("keeper_id"), col("cluster_size"))
  }

  /** SimHash (64-bit) per document + near-dup pairs bucketed by 16-bit
    * chunks: docs within hamming distance `maxHamming` share at least one of
    * the 4 chunks when maxHamming <= 3, and with <= 8 it's a high-recall
    * candidate filter (classic Charikar/Manku chunking), verified by exact
    * `bit_count(xor)`.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    // fused per-doc compiled pass (graft_shingle_simhash64): shingle hash +
    // distinct + vote in one loop — replaces both the explode + 64-column
    // vote aggregation AND the interpreted shingle-array HOF, so nothing
    // shuffles until the chunk join
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        call_function("graft_shingle_simhash64", col("ws"), lit(3)).as("simhash"))
    val chunkCols = (0 until 4).map(c =>
      struct(lit(c).as("chunk_id"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("chunk")))
    val chunks = sh.select(col("doc_id"), col("simhash"), explode(array(chunkCols: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"),
        col("cc.chunk_id").as("chunk_id"), col("cc.chunk").as("chunk"))
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_id") === col("y.chunk_id") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Duplicated-substring span detection — the sliding-window form of exact
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": a suffix-array pass marks every >= n-token
    * substring that appears more than once; here the equivalent n-gram
    * digest formulation). Every word position opens an n-gram whose 64-bit
    * FNV digest stands in for the substring — only digests ever shuffle
    * (never text), one map-side-combined count finds globally repeated
    * grams, and flagged positions merge into maximal spans with per-doc
    * windows (gaps-and-islands). Returns (doc_id, span_start, span_end,
    * n_grams) in 1-based word positions.
    *
    * FNV-64 collisions can flag a false duplicate — the same digest trade
    * every fingerprint operator here makes; raise n or verify flagged
    * spans textually if that matters.
    */
  def dupSpans(docs: DataFrame, n: Int, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    // in-row gram digests: graft_ngrams emits every position's n-gram as a
    // zero-copy byte span (byte-identical to the old slice+array_join form,
    // <n words -> no rows ≡ the old size guard) and fnv hashes the span —
    // no per-gram string building. Pinned ONCE (localCheckpoint, the feats
    // pattern): both consumers below — the repeated-digest aggregate and
    // the flagged join — read the materialized scalars instead of each
    // re-running the digest pass over the corpus.
    val grams = docs
      .select(col("doc_id"),
        posexplode(call_function("graft_ngrams", col("text"), lit(n))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        call_function("graft_fnv64", col("col")).as("h"))
      .localCheckpoint()
    val repeated = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("h"))
    val flagged = grams.join(repeated, "h")
    // merge overlapping/adjacent [pos, pos+n-1] intervals per document
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) > n, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Changelog-maintained deduped corpus — the CDC half of the engine
    * feeding the curation half: given a documents CHANGELOG (offset,
    * doc_id, op, text), materialize the live corpus (last-writer-wins per
    * doc, trailing deletes dropped) and assign every live document its
    * exact-duplicate group — keeper = min(doc_id). Updates that rewrite a
    * document's content MOVE it between digest groups, and deleting a
    * group's keeper promotes the next-smallest member — the maintenance
    * cases an id-keyed or insert-only dedup silently gets wrong.
    *
    * Shape at 100 TB: document text crosses exactly ONE shuffle (the
    * unavoidable CDC fold, `max_by` keyed by doc_id — map-side partial
    * maxima, no sort); everything after is 32-byte sha256 digests — the
    * group table is digest-keyed scalars and the final join carries no
    * text. Under streaming, the fold IS the engine's existing upsert
    * surface (the state the JDBC/row-image sinks maintain per micro-batch);
    * the dedup view is a batch query over that maintained state, and
    * ExtOpsSpec proves the decomposition holds across arbitrary micro-batch
    * splits of the log.
    */
  def cdcDedupedCorpus(changes: DataFrame): DataFrame = {
    val live = TrainingPipeline.liveCorpus(changes)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    // keeper/size as full-partition windows on ONE digest exchange of
    // (doc_id, digest) scalars: the aggregate+join form evaluated the LWW
    // fold — the only text-carrying shuffle — twice (group aggregate +
    // join side). Same values (min/count per digest group), one
    // evaluation, one WindowExec serving both.
    import org.apache.spark.sql.expressions.Window
    val byDigest = Window.partitionBy(col("digest"))
    live
      .withColumn("keeper_id", min(col("doc_id")).over(byDigest))
      .withColumn("group_size", count(lit(1)).over(byDigest))
      .select(col("doc_id"), col("keeper_id"), col("group_size"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
  }
}
