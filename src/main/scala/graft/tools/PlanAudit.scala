package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import java.nio.file.{Files, Path}

/** Physical-plan tool at the bench session ([[graft.GraftSession]] with the
  * sf dir's data-proportional shuffle width), so the plan it reports is the
  * plan [[graft.Bench]] times. Two modes:
  *
  *   - `PlanAudit <sfDir>` prints a per-query audit (markdown) of the
  *     scale-relevant plan properties of every `SparkEntry.queries` entry:
  *     shuffle and broadcast exchange counts, cartesian products (must be
  *     zero), parquet filter pushdown, and whole-stage-codegen coverage.
  *     PLANS.md is this output at sf0.01 (`--error` keeps sbt's own log
  *     lines off stdout):
  *
  *       sbt --batch --error "runMain graft.tools.PlanAudit <testdata>/sf0.01" > PLANS.md
  *
  *   - `PlanAudit <sfDir> <outDir> <suffix> [q1,q2|all]` writes each named
  *     query's `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`
  *     (every query when the list is absent or "all") — the before/after
  *     plan evidence under plans/:
  *
  *       sbt -batch "runMain graft.tools.PlanAudit <testdata>/sf0.1 plans/r13 before q1,q2"
  *
  * What it cannot see: [[graft.cdc.split.DistributedRank]] runs its range
  * shuffle eagerly, while the DataFrame is being built, and hands the rest
  * of the plan an RDD scan. So a row built on the rank does not count that
  * shuffle: chunk_ranges_{cased,composite,string,uneven}, corpus_shuffle,
  * corpus_pack_sequences, corpus_training_pipeline and
  * tidb_resolved_ts_flush show 0 shuffles, and sample_buckets*,
  * corpus_length_*, corpus_token_budget_mix and corpus_unimax_mix fewer
  * than run. ROADMAP direction 4 (the rank as a Catalyst node with its own
  * exchange) is the fix. A persisted fixture counts as the one scan of
  * its cached relation: no column descends into the plan that rendered it.
  */
object PlanAudit {

  /** All nodes matching pf, descending into AQE wrappers and query stages
    * (whose inner plans are fields, not children, so collect() skips them).
    * Deduped by node identity — a node can be reachable both directly and
    * through a stage's plan field.
    */
  private[graft] def collectAll[T <: AnyRef](plan: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    def walk(p: SparkPlan): Seq[T] = {
      val here = p.collect(pf)
      val nested = p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
      }.flatten
      here ++ nested
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[T, java.lang.Boolean]())
    walk(plan).filter(seen.add)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val run: SparkSession => Unit = args.drop(1) match {
      case Array() => audit(_, sfDir)
      case Array(outDir, suffix) => dump(_, sfDir, outDir, suffix, "all")
      case Array(outDir, suffix, queries) => dump(_, sfDir, outDir, suffix, queries)
      case _ => sys.error("usage: PlanAudit <sfDir> [<outDir> <suffix> [q1,q2|all]]")
    }
    val spark = graft.GraftSession(graft.GraftSession.cpus, Some(sfDir))
    try run(spark) finally spark.stop()
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      queries: String): Unit = {
    val names: Seq[String] =
      if (queries == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else queries.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    Files.createDirectories(Path.of(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val text =
        try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      Files.writeString(Path.of(outDir, s"${name}_$suffix.txt"), text)
      System.err.println(s"[plan] $name -> $outDir/${name}_$suffix.txt")
    }
  }

  private def audit(spark: SparkSession, sfDir: String): Unit = {
    println("# Physical-plan audit (scale properties per query)")
    println()
    println(s"Generated by `graft.tools.PlanAudit` on `$sfDir`. Every query's")
    println(s"executed plan at the bench session (`local[${graft.GraftSession.cpus}]`, " +
      "data-proportional AQE starting width),")
    println("summarized by the properties that matter at 100 TB:")
    println("shuffles (each a full network pass over its input), broadcasts")
    println("(small-side joins that avoid shuffling the big side), cartesian")
    println("products (must never appear), parquet filter pushdown, and")
    println("whole-stage-codegen coverage (operators fused into generated code).")
    println()
    println("Not counted: a query built on `DistributedRank` runs the rank's range")
    println("shuffle eagerly while the DataFrame is built, so its row omits that")
    println("shuffle (ROADMAP direction 4 moves the rank into the plan). Nor is the")
    println("plan that rendered a persisted fixture: the query reads it as one")
    println("in-memory scan.")
    println()
    println("| query | shuffles | broadcasts | cartesian | scans | pushed-filter scans | codegen spans |")
    println("|---|---|---|---|---|---|---|")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // collect() executes THIS df's own query execution (count() would
        // plan a different query), finalizing AQE so the audit sees the
        // real stages
        df.collect()
        val plan = df.queryExecution.executedPlan
        val shuffles = collectAll(plan) { case e: ShuffleExchangeLike => e }.size
        val bcasts = collectAll(plan) { case e: BroadcastExchangeLike => e }.size
        val cart = collectAll(plan) { case c: CartesianProductExec => c }.size
        val scans = collectAll(plan) {
          case s if s.nodeName.contains("Scan") => s
        }
        val pushedNonEmpty = scans.count { s =>
          val str = s.toString
          val i = str.indexOf("PushedFilters: [")
          i >= 0 && str.charAt(i + "PushedFilters: [".length) != ']'
        }
        val codegen = collectAll(plan) { case w: WholeStageCodegenExec => w }
          .map(_.codegenStageId).distinct.size
        val cartCell = if (cart == 0) "0" else s"**$cart**"
        println(s"| $name | $shuffles | $bcasts | $cartCell | ${scans.size} | $pushedNonEmpty | $codegen |")
      } catch {
        case e: Throwable =>
          println(s"| $name | ERROR: ${e.getClass.getSimpleName} | | | | | |")
      }
    }
  }
}
