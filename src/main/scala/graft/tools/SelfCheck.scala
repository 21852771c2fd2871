package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

/** In-engine self-consistency gate for scales DuckDB cannot follow
  * (sf10 ~ 60M lineitem): for the most expensive queries, run the ALTERNATE
  * formulation the repo already proves equal at small sf — salted vs
  * unsalted merges, distributed rank/prefix-sum vs Spark's own
  * single-partition window, incremental (IVM) join vs direct join of final
  * states, probe-all IVF-PQ vs brute ADC, split-batch vs whole-batch
  * gating — and hash-compare the two results inside the engine. A bug that
  * breaks EITHER decomposition at scale (overflow in a salting key, a
  * rank-base race, a lost IVM delta) breaks the hash equality; the two
  * formulations share no shuffle topology, so agreement is evidence, not
  * tautology. Also validates `dedup_cluster_assign` against the component
  * DEFINITION (edge-consistent labels, label = min member id) rather than
  * a second run of the same algorithm, and records its convergence rounds.
  *
  * Usage: runMain graft.tools.SelfCheck <sfDir> <outJson>
  */
object SelfCheck {

  /** Order-independent fingerprint: xxhash64 over the sorted-by-name
    * columns (stringified; NULL distinguished from any real value), summed
    * with wrapping — a commutative checksum both formulations must hit.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.columns.sorted.toSeq.map(c =>
      coalesce(col(c).cast(StringType), lit("\u0000NULL")))
    // sum over decimal(38,0): headroom for ~1e18 rows x 2^63 under ANSI
    // mode (a plain long sum would trip ARITHMETIC_OVERFLOW)
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).head()
    (r.getLong(0),
      if (r.isNullAt(1)) "0" else r.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/bench-data/sf10")
    val out = args.lift(1).getOrElse("CORRECTNESS_SF10_self.json")
    val spark = graft.GraftSession(graft.GraftSession.cpus, Some(sfDir))
    import graft.cdc.model.{Changelog, IvmQueries, RowImage}
    import graft.ext.{Curation, Dedup, Similarity}
    import org.apache.spark.sql.expressions.Window

    def docs = Changelog.table(spark, sfDir, "documents")
    def emb = Changelog.table(spark, sfDir, "embeddings")
    val q = graft.SparkEntry.queries

    // ts_ms threshold inside the changelog fixture's event-time range
    // (MergeQueries' reference instant, 2024-01-10T00:00:00Z)
    val tsCut = 1704844800000L

    val books = Similarity.pqCodebooks(emb, m = 8, k = 64, iters = 2)

    val clusterRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]

    // (name, formulation A — the shipped query shape, formulation B — the
    // independent restatement)
    val pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("changelog_upsert_plain_vs_salted",
        () => q("changelog_upsert_materialize")(spark, sfDir),
        () => q("changelog_upsert_materialize_salted")(spark, sfDir)),

      ("rowimage_upsert_plain_vs_salted",
        () => q("rowimage_upsert_materialize")(spark, sfDir),
        () => q("rowimage_upsert_salted")(spark, sfDir)),

      // FAISS identity: IVF-PQ probing EVERY cell degenerates to the brute
      // ADC scan — same codebooks, same shortlist tie-break, same re-rank
      ("ivfpq_probeall_vs_pq_adc",
        () => Similarity.pqSearchTopK(emb, books, nQueries = 10,
          k = 5, shortlist = 100),
        () => Similarity.ivfPqTopKWith(emb, nCells = 8, nProbe = 8,
          books, nQueries = 10, k = 5, shortlist = 100)),

      // IVM: folded delta stream == direct join of the final LWW states
      ("incremental_join_vs_direct",
        () => q("rowimage_incremental_join")(spark, sfDir),
        () => {
          def state(env: DataFrame, t: RowImage.DeclaredTable) =
            RowImage.upsertMaterialize(RowImage.decodeEnvelope(env, t), t)
          val o = state(IvmQueries.ordersEnvelope(spark, sfDir), IvmQueries.ordersJoinTable)
          val c = state(IvmQueries.customerEnvelope(spark, sfDir), IvmQueries.customerTable)
          o.join(c, o("o_custkey") === c("c_custkey"))
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice").cast(StringType).as("o_totalprice"),
              col("o_orderpriority"), col("c_name"),
              col("c_acctbal").cast(StringType).as("c_acctbal"),
              lit(1L).as("net"))
        }),

      ("incremental_join_agg_vs_direct",
        () => q("rowimage_incremental_join_agg")(spark, sfDir),
        () => {
          def state(env: DataFrame, t: RowImage.DeclaredTable) =
            RowImage.upsertMaterialize(RowImage.decodeEnvelope(env, t), t)
          val o = state(IvmQueries.ordersEnvelope(spark, sfDir), IvmQueries.ordersJoinTable)
          val c = state(IvmQueries.customerEnvelope(spark, sfDir), IvmQueries.customerTable)
          o.join(c, o("o_custkey") === c("c_custkey"))
            .groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("o_totalprice").cast(DecimalType(38, 2))).as("total"))
            .select(col("o_custkey"), col("cnt"),
              col("total").cast(DecimalType(18, 2)).cast(StringType).as("total"))
        }),

      // distributed rank decomposition vs Spark's single-partition window
      ("resolved_ts_rank_vs_window",
        () => graft.cdc.merge.ChangelogOps.resolvedTsFlush(
          Changelog.changelog(spark, sfDir), tsCut),
        () => Changelog.changelog(spark, sfDir)
          .where(col("ts_ms") <= tsCut)
          .select(col("offset"), col("pk"), col("ts_ms"))
          .withColumn("commit_rank", row_number().over(
            Window.orderBy(col("ts_ms"), col("offset"))))),

      ("shuffle_rank_vs_window",
        () => Curation.globalShuffle(docs, seed = 7L, nShards = 16),
        () => {
          graft.cdc.types.GraftFunctions.register(spark)
          docs.select(col("doc_id"),
              call_function("graft_mix64", col("doc_id"), lit(7L)).as("mix"))
            .withColumn("pos", row_number().over(
              Window.orderBy(col("mix"), col("doc_id"))).cast("long"))
            .select(col("doc_id"), col("pos"),
              pmod(col("pos") - 1, lit(16L)).as("shard"))
        }),

      // distributed prefix sum vs single-partition running-sum window
      ("pack_prefix_vs_window",
        () => Curation.packSequences(docs, seqLen = 2048L),
        () => {
          val toks = docs.select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
          toks.withColumn("cum_end", sum(col("n_toks")).over(
              Window.orderBy(col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .withColumn("cum_start", col("cum_end") - col("n_toks"))
            .withColumn("seq_id", explode(sequence(
              expr("cum_start div 2048"), expr("(cum_end - 1) div 2048"))))
            .withColumn("span_start", greatest(col("cum_start"), col("seq_id") * 2048L))
            .select(col("doc_id"), col("n_toks"), col("seq_id"),
              (col("span_start") - col("cum_start")).as("doc_tok_start"),
              (col("span_start") - col("seq_id") * 2048L).as("seq_tok_start"),
              (least(col("cum_end"), (col("seq_id") + 1) * 2048L)
                - col("span_start")).as("span_toks"))
        }),

      // prefix filtering is EXACT: the AllPairs prefix index + in-row
      // array intersection must reproduce the unbounded inverted-index
      // pair set bit-for-bit at 100x, where the prefix actually prunes
      // (ExtOpsSpec pins the same equality on adversarial toy corpora)
      ("ngram_jaccard_prefix_exact",
        () => q("dedup_ngram_jaccard")(spark, sfDir),
        () => q("dedup_ngram_jaccard_prefix")(spark, sfDir)),

      // the df-capped inverted index can only DROP pairs: the capped pair
      // set semi-joined against the unbounded pair set must equal the
      // capped set itself (ExtOpsSpec pins the same subset law at toy
      // scale; this runs it at 100x, where the cap actually bites)
      ("ngram_jaccard_capped_subset",
        () => q("dedup_ngram_jaccard_capped")(spark, sfDir)
          .select(col("doc_a"), col("doc_b")),
        () => q("dedup_ngram_jaccard_capped")(spark, sfDir)
          .select(col("doc_a"), col("doc_b"))
          .join(q("dedup_ngram_jaccard")(spark, sfDir)
              .select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_semi")),

      // text-grouped vs digest-grouped exact dedup state the same groups
      ("exact_dedup_text_vs_digest",
        () => q("dedup_exact")(spark, sfDir).select(col("keep_id"), col("dup_cnt")),
        () => q("dedup_exact_hash")(spark, sfDir).select(col("keep_id"), col("dup_cnt"))),

      // admission is per-document against the static index: gating two
      // half-batches separately must equal gating the whole batch
      ("novelty_gate_whole_vs_split",
        () => q("dedup_novelty_gate")(spark, sfDir),
        () => {
          val (bands, digests) = Dedup.noveltyIndex(
            docs.where(col("doc_id") % 10 < 8), numHashes = 32, rowsPerBand = 4)
          val batch = docs.where(col("doc_id") % 10 >= 8)
          Dedup.noveltyGate(bands, digests, batch.where(col("doc_id") % 2 === 0),
              numHashes = 32, rowsPerBand = 4)
            .unionByName(Dedup.noveltyGate(bands, digests,
              batch.where(col("doc_id") % 2 === 1),
              numHashes = 32, rowsPerBand = 4))
        }),

      // the three wire-decode faces vs pure-ARITHMETIC restatements of
      // their DuckDB oracles (proven equal at sf0.01 by the driver gate)
      // re-expressed in Spark: the decode path (regex token scan / KV
      // layout / logproxy text maps) shares no code with the restatement,
      // so agreement at sf10 exercises the newest decode paths at 100x
      ("pg_testdecoding_decode_vs_arith",
        () => q("pg_testdecoding_decode")(spark, sfDir),
        () => {
          val k = col("o_orderkey")
          val op = when(col("o_orderstatus") === "F", "d")
            .when(col("o_orderstatus") === "P", "u").otherwise("c")
          Changelog.table(spark, sfDir, "orders").select(
            k.as("offset"), op.as("op"),
            ((lit(1704067200L) + k % 997) * 1000L).as("ts_ms"),
            lit("public").as("schema_name"), k.as("o_orderkey"),
            when(k % 7 === 0, lit(null).cast(StringType))
              .otherwise(concat(col("o_orderpriority"),
                lit("'s new-tuple: x[text]:'y'"))).as("o_name"),
            (col("o_totalprice") + when(op === "d", 10).otherwise(0))
              .cast(DecimalType(14, 2)).cast(StringType).as("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"))
        }),

      ("tikv_kv_decode_vs_arith",
        () => q("tikv_kv_decode")(spark, sfDir),
        () => {
          val ms = unix_millis(col("o_orderdate").cast("timestamp"))
          val op = when(col("o_orderstatus") === "F", "d").otherwise("c")
          Changelog.table(spark, sfDir, "orders").select(
            (ms * 262144L + col("o_orderkey") % 262144L).as("offset"),
            op.as("op"), ms.as("ts_ms"), lit(42L).as("table_id"),
            col("o_orderkey"),
            when(op === "c", col("o_totalprice").cast(DecimalType(14, 2))
              .cast(StringType)).as("o_totalprice"),
            when(op === "c", col("o_orderdate").cast("date")).as("o_orderdate"),
            when(op === "c", col("o_orderstatus")).as("o_orderstatus"))
        }),

      // the fused CDC→training pipeline at 100x: whole-log LWW fold vs the
      // log split by doc parity, folded independently, unioned, and
      // epoch-cut. LWW is a per-doc fold, so the two half-folds must reach
      // the same live corpus — and the digest-grouped dedup gate and the
      // sharded packing run over the UNION, exercising the cross-half
      // duplicate collapse the split cannot see locally
      // (TrainingPipelineSpec proves the same law at sf0.01)
      ("training_pipeline_whole_vs_split",
        () => q("pipeline_cdc_training_batches")(spark, sfDir),
        () => {
          val log = graft.ext.ExtQueries.docsChangelog(spark, sfDir)
          val live = graft.ext.TrainingPipeline
            .liveCorpus(log.where(col("doc_id") % 2 === 0))
            .unionByName(graft.ext.TrainingPipeline
              .liveCorpus(log.where(col("doc_id") % 2 === 1)))
          graft.ext.TrainingPipeline.epochCut(live, minWords = 3,
            repLimit = 2, seqLen = 128L, nShards = 4)
        }),

      ("oceanbase_logproxy_decode_vs_arith",
        () => q("oceanbase_logproxy_decode")(spark, sfDir),
        () => {
          val tsS = (unix_millis(col("o_orderdate").cast("timestamp")) / 1000)
            .cast("long")
          val op = when(col("o_orderstatus") === "F", "d")
            .when(col("o_orderstatus") === "P", "u").otherwise("c")
          Changelog.table(spark, sfDir, "orders").select(
            (tsS * 1000000L + col("o_orderkey")).as("offset"), op.as("op"),
            (tsS * 1000L).as("ts_ms"),
            concat(lit("tenant_"), col("o_custkey") % 3).as("tenant_name"),
            col("o_orderkey"),
            (col("o_totalprice") + when(op === "d", 10).otherwise(0))
              .cast(DecimalType(14, 2)).cast(StringType).as("o_totalprice"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderstatus"))
        })
    )

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val results = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var allOk = true
    pairs.foreach { case (name, a, b) =>
      val t0 = System.nanoTime
      val (na, ha) = fingerprint(a())
      val t1 = System.nanoTime
      val (nb, hb) = fingerprint(b())
      val t2 = System.nanoTime
      val ok = na == nb && ha == hb
      allOk &&= ok
      results(name) =
        s"""{"rows_a": $na, "rows_b": $nb, "hash_a": $ha, "hash_b": $hb, """ +
          s""""match": $ok, "secs_a": ${(t1 - t0) / 1e9}, "secs_b": ${(t2 - t1) / 1e9}}"""
      println(s"SELFCHECK $name rows=$na/$nb match=$ok " +
        f"a=${(t1 - t0) / 1e9}%.1fs b=${(t2 - t1) / 1e9}%.1fs")
    }

    // cluster_assign validated against the component DEFINITION (not a
    // second run): every near-dup edge joins equal labels, and every
    // cluster's label IS the minimum member id. Convergence rounds recorded
    // for the scale note (pointer jumping is O(log n) rounds).
    val t0 = System.nanoTime
    val lshPairs = Dedup.minhashLsh(docs, numHashes = 32, rowsPerBand = 4)
      .localCheckpoint()
    val labels = Dedup.clusterAssign(docs, lshPairs,
        onRound = (r, n) => clusterRounds += ((r, n)))
      .select(col("doc_id").as("id"), col("keeper_id").as("lab"))
      .localCheckpoint()
    val edgeViolations = lshPairs
      .join(labels.as("la"), col("doc_a") === col("la.id"))
      .join(labels.as("lb"), col("doc_b") === col("lb.id"))
      .where(col("la.lab") =!= col("lb.lab")).count()
    val minViolations = labels.groupBy(col("lab"))
      .agg(min(col("id")).as("mn")).where(col("lab") =!= col("mn")).count()
    val selfViolations = labels.where(col("lab") > col("id")).count()
    val t1 = System.nanoTime
    val clusterOk = edgeViolations == 0L && minViolations == 0L && selfViolations == 0L
    allOk &&= clusterOk
    results("cluster_assign_component_definition") =
      s"""{"edge_violations": $edgeViolations, "min_violations": $minViolations, """ +
        s""""self_violations": $selfViolations, "match": $clusterOk, """ +
        s""""rounds": [${clusterRounds.map { case (r, n) => s"[$r, $n]" }.mkString(", ")}], """ +
        s""""secs": ${(t1 - t0) / 1e9}}"""
    println(s"SELFCHECK cluster_assign edges=$edgeViolations mins=$minViolations " +
      s"selfs=$selfViolations rounds=${clusterRounds.map(_._2).mkString(",")}")

    val json = s"""{"sf_dir": "${esc(sfDir)}", "all_match": $allOk, "pairs": {""" +
      results.map { case (k, v) => s""""${esc(k)}": $v""" }.mkString(", ") + "}}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"SELFCHECK_DONE all_match=$allOk -> $out")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
