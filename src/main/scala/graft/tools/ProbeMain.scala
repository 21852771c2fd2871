package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc probe main used by the verify workflow (not part of the driver
  * contract). args: sfDir queryName [queryName...] — times each named
  * SparkEntry query twice (min-of-2, the bench's convention).
  */
object ProbeMain {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      // match Bench's data-proportional shuffle width (AQE coalesces)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          graft.Bench.initialShufflePartitions(
            args.headOption.getOrElse("/root/testdata/sf0.1"), 32)))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("rowimage_hybrid_materialize", "rowimage_upsert_materialize")
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(s, dir).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"TIME $name $t%.2f s rows=$n")
      t
    }
    names.foreach {
      case "jaccard_recall_bands" => jaccardRecallBands(s, dir)
      case n =>
        val t = math.min(once(n), once(n))
        println(f"BEST $n $t%.2f s")
    }
    s.stop()
  }

  /** Diagnostic, not a timing: per-jaccard-band recall of the df-capped
    * inverted index vs the unbounded pair set. Quantifies WHICH pairs the
    * constant per-word candidate budget sheds as corpus growth pushes more
    * words past the cap — the scale trade documented at Dedup.DefaultMaxDf.
    */
  private def jaccardRecallBands(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val unb = graft.SparkEntry.queries("dedup_ngram_jaccard")(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).localCheckpoint()
    val cap = graft.SparkEntry.queries("dedup_ngram_jaccard_capped")(s, dir)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    Seq(0.5 -> 0.6, 0.6 -> 0.7, 0.7 -> 0.8, 0.8 -> 0.9, 0.9 -> 1.01).foreach {
      case (lo, hi) =>
        val band = unb.where(col("jaccard") >= lo && col("jaccard") < hi)
        val total = band.count()
        val kept = band.join(cap, Seq("doc_a", "doc_b"), "left_semi").count()
        println(f"RECALL [$lo%.1f,$hi%.1f) kept=$kept total=$total " +
          f"pct=${if (total == 0) 100.0 else kept * 100.0 / total}%.2f")
    }
  }
}
