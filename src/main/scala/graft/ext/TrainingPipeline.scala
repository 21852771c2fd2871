package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.model.{Changelog, RowImage}

/** The continuous training-data pipeline, composed end-to-end from the
  * engine's own halves: a CDC documents changelog in, fixed-length training
  * sequences out.
  *
  *   changelog → last-writer-wins live corpus (the CDC fold every sink
  *   maintains) → exact-dedup keepers → curation quality gate → sharded
  *   sequence packing (the [[StreamingPack]] axis).
  *
  * Batch and streaming state the SAME function: the batch form below runs
  * the composition declaratively over a retained log; the streaming form
  * maintains the fold through the exactly-once envelope sink
  * ([[graft.cdc.model.RowImage.applyEnvelopeStream]]) and takes an EPOCH CUT
  * — this composition applied to the maintained state — whenever a training
  * run wants a corpus snapshot. TrainingPipelineSpec proves the epoch cut
  * after kill/restart equals this batch composition over the full log, and
  * that [[StreamingPack.packStream]] over the gated corpus equals
  * [[packManifest]] across arbitrary micro-batch splits.
  *
  * Shape at 100 TB: text crosses exactly ONE shuffle (the LWW fold — the
  * same bound [[Dedup.cdcDedupedCorpus]] documents); dedup groups are
  * 32-byte digests; the gate is a narrow filter fused into the keeper join;
  * packing projects to (doc_id, n_toks, shard) 24-byte rows before its only
  * shuffle, and the per-shard prefix sum parallelizes across shards (a
  * shard per output writer — production runs use thousands).
  */
object TrainingPipeline {

  /** The maintained live corpus: last writer wins per doc, deletes drop. */
  def liveCorpus(changes: DataFrame): DataFrame =
    RowImage.lastWriterWins(changes, col("doc_id"), "text")
      .where(col("last.op") =!= Changelog.OpDelete)
      .select(col("doc_id"), col("last.text").as("text"))

  /** Exact-dedup keepers + the curation quality gate, fused: keep a doc iff
    * it is the min-id owner of its content digest, has at least `minWords`
    * words, and its most frequent word is under 1/`repLimit` of all words
    * (the [[Curation.gated]] repetition rule, digest-grouped like
    * [[Dedup.cdcDedupedCorpus]] so only 32-byte scalars shuffle).
    */
  def dedupGate(live: DataFrame, minWords: Int, repLimit: Int): DataFrame = {
    val keepers = live
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"))
    live
      .withColumn("digest", sha2(col("text"), 256))
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("top_cnt", expr(
        """aggregate(array_sort(split(text, ' ')),
          |  named_struct('cnt', 0, 'run', 0, 'prev', cast(null as string)),
          |  (acc, x) -> named_struct(
          |    'cnt', greatest(acc.cnt, if(x <=> acc.prev, acc.run + 1, 1)),
          |    'run', if(x <=> acc.prev, acc.run + 1, 1),
          |    'prev', x),
          |  acc -> acc.cnt)""".stripMargin))
      .join(keepers, "digest")
      .where(col("doc_id") === col("keep_id")
        && col("n_words") >= minWords
        && col("top_cnt") * repLimit <= col("n_words"))
      .select(col("doc_id"), col("text"))
  }

  /** Sharded packing manifest — the BATCH statement of
    * [[StreamingPack.packStream]]'s semantics: each document hashes to one
    * of `nShards` token axes, documents pack in doc_id order per shard, and
    * sequences cut every `seqLen` tokens. One window prefix sum PER SHARD
    * (partitioned — never a global single-partition window); the explode
    * fans out only boundary-straddle rows. Returns the [[StreamingPack
    * .PackSpan]] columns (shard, doc_id, seq_id, doc_tok_start,
    * seq_tok_start, span_toks).
    */
  def packManifest(docs: DataFrame, seqLen: Long, nShards: Int,
      seed: Long = 0L): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    graft.cdc.types.GraftFunctions.register(docs.sparkSession)
    val toks = docs.select(
      pmod(call_function("graft_mix64", col("doc_id"), lit(seed)),
        lit(nShards.toLong)).as("shard"),
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    toks
      .withColumn("cum_end", sum(col("n_toks")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_start div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .select(col("shard"), col("doc_id"), col("seq_id"),
        (greatest(col("cum_start"), col("seq_id") * seqLen) - col("cum_start"))
          .as("doc_tok_start"),
        (greatest(col("cum_start"), col("seq_id") * seqLen)
          - col("seq_id") * seqLen).as("seq_tok_start"),
        (least(col("cum_end"), (col("seq_id") + 1) * seqLen)
          - greatest(col("cum_start"), col("seq_id") * seqLen)).as("span_toks"))
  }

  /** [[dedupGate]] + the packer's tokenization, fused to scalar width: one
    * pass over the live corpus computes (digest, n_words, top_cnt), the
    * keeper is `min(doc_id)` OVER the digest (a full-partition window on
    * the single digest exchange — same keep set as the aggregate+join
    * form, but the live-corpus fold is evaluated ONCE and text never
    * crosses a second shuffle), and the surviving rows carry only
    * (doc_id, n_toks) into packing — `n_toks` IS the gate's `n_words`
    * (both are `size(split(text, ' '))`), so the packer never re-splits.
    * This is the composition's documented 100 TB shape actually achieved:
    * text crosses exactly the LWW shuffle, everything downstream is
    * 16-byte scalars, and no materialization barrier is needed because
    * the whole gate is one linear plan.
    */
  private def gateScalars(live: DataFrame, minWords: Int, repLimit: Int): DataFrame = {
    val stats = live.select(
      col("doc_id"),
      sha2(col("text"), 256).as("digest"),
      size(split(col("text"), " ")).as("n_words"),
      col("top_cnt"))
    val byDigest = Window.partitionBy(col("digest"))
    stats
      .withColumn("keep_id", min(col("doc_id")).over(byDigest))
      .where(col("doc_id") === col("keep_id")
        && col("n_words") >= minWords
        && col("top_cnt") * repLimit <= col("n_words"))
      .select(col("doc_id"), col("n_words").cast("long").as("n_toks"))
  }

  /** The in-row word-stat projection shared by [[dedupGate]] and
    * [[gateScalars]] (the max sorted-run fold = the max word multiplicity).
    */
  private def withTopCnt(live: DataFrame): DataFrame =
    live.withColumn("top_cnt", expr(
      """aggregate(array_sort(split(text, ' ')),
        |  named_struct('cnt', 0, 'run', 0, 'prev', cast(null as string)),
        |  (acc, x) -> named_struct(
        |    'cnt', greatest(acc.cnt, if(x <=> acc.prev, acc.run + 1, 1)),
        |    'run', if(x <=> acc.prev, acc.run + 1, 1),
        |    'prev', x),
        |  acc -> acc.cnt)""".stripMargin))

  /** [[packManifest]] from pre-tokenized (doc_id, n_toks) scalars — the
    * fused path of [[fromChangelog]]/[[epochCut]]; identical arithmetic.
    */
  private def packCounts(counts: DataFrame, seqLen: Long, nShards: Int,
      seed: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    graft.cdc.types.GraftFunctions.register(counts.sparkSession)
    val toks = counts.select(
      pmod(call_function("graft_mix64", col("doc_id"), lit(seed)),
        lit(nShards.toLong)).as("shard"),
      col("doc_id"),
      col("n_toks"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    toks
      .withColumn("cum_end", sum(col("n_toks")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_toks"))
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_start div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .select(col("shard"), col("doc_id"), col("seq_id"),
        (greatest(col("cum_start"), col("seq_id") * seqLen) - col("cum_start"))
          .as("doc_tok_start"),
        (greatest(col("cum_start"), col("seq_id") * seqLen)
          - col("seq_id") * seqLen).as("seq_tok_start"),
        (least(col("cum_end"), (col("seq_id") + 1) * seqLen)
          - greatest(col("cum_start"), col("seq_id") * seqLen)).as("span_toks"))
  }

  /** The whole composition: CDC log in, training-batch manifest out. */
  def fromChangelog(changes: DataFrame, minWords: Int = 3, repLimit: Int = 2,
      seqLen: Long = 128L, nShards: Int = 4, seed: Long = 0L): DataFrame =
    packCounts(gateScalars(withTopCnt(liveCorpus(changes)), minWords, repLimit),
      seqLen, nShards, seed)

  /** The EPOCH CUT the streaming form takes: the same gate + packing
    * applied to an already-maintained live corpus (e.g. the state table
    * behind [[graft.cdc.model.RowImage.applyEnvelopeStream]]) instead of
    * re-folding the log. `fromChangelog(log) == epochCut(liveCorpus(log))`
    * by construction; TrainingPipelineSpec proves the streaming-maintained
    * state reaches the same cut across kill/restart.
    */
  def epochCut(live: DataFrame, minWords: Int = 3, repLimit: Int = 2,
      seqLen: Long = 128L, nShards: Int = 4, seed: Long = 0L): DataFrame =
    packCounts(gateScalars(withTopCnt(live), minWords, repLimit),
      seqLen, nShards, seed)
}
