package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Regression gate on the physical-plan properties the 100 TB design relies
  * on: filter pushdown to the scan, map-side partial aggregation before the
  * shuffle, broadcast joins for planner metadata, and no cartesian products
  * in the dedup/similarity candidate generation.
  */
class PlanSpec extends SparkTestBase {

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString + "\n" + a.initialPlan.toString
      case p: SparkPlan => p.toString
    }
  }

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("range scans push filters into the parquet scan") {
    val s = planString(q("split_scan_mid"))
    assert(s.contains("PushedFilters: [IsNotNull(c_custkey), GreaterThanOrEqual(c_custkey,512)"), s)
  }

  test("hybrid chunk ranges on a one-column key push into the parquet scan") {
    val plan = q("hybrid_pipeline_materialize").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val pushed = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metadata("PushedFilters")
    }
    assert(pushed.exists(f => f.contains("LessThan(") || f.contains("GreaterThanOrEqual(")),
      plan.toString)
  }

  test("changelog projection prunes unused columns at the scan") {
    val s = planString(q("changelog_upsert_materialize"))
    // props/ts are unused by the merge: events scan must not read them
    assert(s.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>"), s)
  }

  test("upsert materialize partial-aggregates below the exchange (map-side)") {
    // structural check: the shuffle's CHILD subtree (what runs map-side,
    // before data crosses the exchange) must contain the partial max_by.
    // String-prefix checks get this wrong: tree rendering is root-first,
    // so map-side operators appear AFTER the Exchange line.
    val df = q("changelog_upsert_materialize")
    // AdaptiveSparkPlanExec does not expose its inner plan as a child, so
    // collect() on the wrapper sees nothing — unwrap explicitly
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.nonEmpty, plan.toString)
    assert(exchanges.exists(_.child.toString.contains("partial_max_by")),
      s"no exchange has a map-side partial_max_by child:\n$plan")
  }

  test("emit filter joins the splits table by broadcast, not shuffle") {
    val s = planString(q("emit_filter_watermark"))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("dedup and similarity candidate generation contains no cartesian product") {
    for (name <- Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
        "similarity_topk_lsh", "dedup_embedding_cosine", "interval_join",
        "dedup_novelty_gate")) {
      val s = planString(q(name))
      assert(!s.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("signature computation is a narrow projection: no shuffle before the candidate join") {
    // minhash/simhash signatures are native per-doc expressions; the ONLY
    // shuffle either plan may contain is the band/chunk candidate join
    // (which AQE may further demote to a broadcast at this SF), and the
    // fingerprint projections shuffle nowhere at all
    def shuffles(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size
    }
    assert(shuffles(q("dedup_minhash_lsh")) <= 2, "minhash shuffles beyond the candidate join")
    assert(shuffles(q("dedup_simhash")) <= 2, "simhash shuffles beyond the candidate join")
    assert(shuffles(q("text_fingerprint")) == 0)
    assert(shuffles(q("text_winnow_fingerprint")) == 0)
    assert(shuffles(q("text_token_count")) == 0)
  }

  test("normalize and holdout split are shuffle-free in-row passes inside codegen") {
    for (name <- Seq("text_normalize", "corpus_holdout_split")) {
      val df = q(name)
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"$name shuffles:\n$plan")
      assert(!plan.toString.contains("ScalaUDF"), s"$name plans a Scala UDF")
      // graft_nfc_clean / the digest hash must sit inside a codegen span
      // (rendered as the "*(n)" prefix on the projection)
      assert(plan.toString.linesIterator.exists(_.trim.startsWith("*(")), plan.toString)
    }
  }

  test("dsir selection broadcasts both distribution tables; no cartesian; top-k is TakeOrdered") {
    val df = q("corpus_dsir_select")
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastHashJoin"), s) // dists join on bucket
    assert(s.contains("TakeOrderedAndProject"), s) // k-limit never global-sorts
  }

  test("brute-force similarity broadcasts the query side") {
    val s = planString(q("similarity_topk_bruteforce"))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("GTID containment runs as a native expression, not a Scala UDF") {
    for (name <- Seq("gtid_containment", "startup_specific_offset")) {
      val s = planString(q(name))
      assert(!s.contains("ScalaUDF") && !s.contains("UDF("),
        s"$name plans a Scala UDF:\n$s")
    }
  }

  test("tidb resolvedTs flush has no partition-less window in the data path") {
    def windows(plan: org.apache.spark.sql.execution.SparkPlan) = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val plan = q("tidb_resolved_ts_flush").queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the distributed rank plans NO Window at all (range partition +
    // in-partition sort + a two-phase fold over that RDD); if one ever
    // reappears it must be partitioned
    windows(plan).foreach(w => assert(w.partitionSpec.nonEmpty,
      s"partition-less Window in tidb_resolved_ts_flush:\n$plan"))
    // the rank folds over the range-sorted frame's RDD, so the visible
    // plan reads the ranked rows as an RDD scan
    assert(plan.toString.contains("ExistingRDD"), plan.toString)
  }

  test("IVF runs no driver-side model fit: seed selection is a bounded TakeOrdered") {
    val s = planString(q("similarity_topk_ivf"))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("ScalaUDF"), s)
  }

  test("sequence packing: prefix sums are partition-parallel, never a global window") {
    val df = q("corpus_pack_sequences")
    df.collect() // finalize AQE
    // string form: AQE wraps materialized stages as leaf nodes, so a typed
    // collect() cannot see the WindowExec inside the shuffle stage — the
    // tree string still renders the nested plans
    val s = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    // the prefix sums are folded per partition over the range-sorted
    // frame's RDD (see DistributedRank) — the visible plan reads the summed
    // rows as an RDD scan and plans NO Window node anywhere (a Window form
    // pays an Exchange + Sort + Window per cumsum consumer)
    assert(!s.contains("Window ["), s)
    assert(s.contains("ExistingRDD"), s)
  }

  test("token-budget mix: per-source cumsum has no per-source window; bases/budgets broadcast") {
    val df = q("corpus_token_budget_mix")
    df.collect() // finalize AQE
    val s = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    // the cumsum is the per-partition fold (see DistributedRank)
    // — never a window, and in particular never partitioned by source
    // (giant sources would serialize)
    assert(!s.contains("Window ["), s)
    assert(s.contains("BroadcastHashJoin"), s) // bases + budgets come back broadcast
    assert(!s.contains("CartesianProduct"), s)
  }

  test("vocab coverage: top-k is a TakeOrdered and the vocab broadcasts back") {
    val s = planString(q("corpus_vocab_coverage"))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s)
    assert(!s.contains("CartesianProduct"), s)
  }
}
