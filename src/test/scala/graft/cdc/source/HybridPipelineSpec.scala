package graft.cdc.source

import graft.SparkTestBase
import graft.cdc.merge.SnapshotProtocol
import graft.cdc.model.Changelog
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The hybrid pipeline (chunked snapshot + per-chunk watermarks + emit-
  * filtered log phase) must land in exactly the state a direct
  * materialization of the full changelog gives — the reference's
  * exactly-once guarantee (T2), under interleaved per-chunk watermarks.
  */
class HybridPipelineSpec extends SparkTestBase {

  private def direct() =
    Changelog.upsertMaterialize(
      Changelog.snapshot(spark, sfDir),
      Changelog.changelog(spark, sfDir)
    ).select(col("pk"), col("last_offset"), col("val"))

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("pipeline output equals direct materialization (default interleaving)") {
    val got = collectSet(HybridPipeline.materialize(spark, sfDir))
    val expect = collectSet(direct())
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("holds under other chunk geometries and watermark interleavings") {
    val plans: Seq[HybridPipeline.ChunkPlan] = Seq(
      // single unbounded chunk
      Seq((None, None, 100L, 300L)),
      // many small ranges, non-monotone watermarks (chunks finished out of order)
      Seq(
        (None, Some(3L), 500L, 600L),
        (Some(3L), Some(6L), 100L, 120L),
        (Some(6L), Some(9L), 800L, 900L),
        (Some(9L), None, 0L, 50L)
      ),
      // low == high on one chunk (backfill skip path)
      Seq((None, Some(8L), 400L, 400L), (Some(8L), None, 200L, 350L))
    )
    val expect = collectSet(direct())
    for (p <- plans)
      assert(collectSet(HybridPipeline.materialize(spark, sfDir, p)) == expect,
        s"plan $p diverged")
  }

  /** Plans over the fixture's keys (log pks 0..14, snapshot pks 0..149):
    * 1-3 chunks cut at distinct boundaries, each observed at its own
    * lowWm <= highWm inside the log's offsets 0..999.
    */
  private val planGen: Gen[HybridPipeline.ChunkPlan] = for {
    n <- Gen.choose(1, 3)
    cuts <- Gen.pick(n - 1, 1L to 20L)
    wms <- Gen.listOfN(n, for {
      hi <- Gen.choose(0L, 1000L)
      lo <- Gen.choose(0L, hi)
    } yield (lo, hi))
  } yield {
    val b = cuts.toSeq.sorted
    (None +: b.map(Option(_))).zip(b.map(Option(_)) :+ None).zip(wms).map {
      case ((lo, hi), (lowWm, highWm)) => (lo, hi, lowWm, highWm)
    }
  }

  test("each chunk's one merge equals the two-phase bracket; lowWm does not change the result") {
    val snap = Changelog.snapshot(spark, sfDir)
    val cl = Changelog.changelog(spark, sfDir)
    val expect = collectSet(direct())
    val prop = Prop.forAll(planGen) { plan =>
      val chunksAgree = plan.forall { case (lo, hi, lowWm, highWm) =>
        // the protocol as the reference runs it: the chunk observed at
        // lowWm, then (lowWm, highWm] backfilled into it
        val observed = Changelog.upsertMaterialize(snap, cl.where(col("offset") <= lowWm))
          .select(col("pk"), col("last_offset").as("offset"), lit(Changelog.OpRead).as("op"),
            lit(0L).as("ts_ms"), col("val"), lit(null).cast("string").as("props"))
        val twoPhase = SnapshotProtocol.normalizeChunk(observed, cl, lowWm, highWm, lo, hi)
          .select(col("pk"), col("offset"), col("val"))
        // the pipeline's one merge: this chunk alone over a log that ends at
        // highWm, so nothing reaches the log phase
        val oneMerge = HybridPipeline.materialize(
          Changelog.asRowImage(snap, col("val")).unionByName(
            Changelog.asRowImage(cl.where(col("offset") <= highWm), col("val"))),
          Seq((lo, hi, lowWm, highWm)))
        collectSet(oneMerge) == collectSet(twoPhase)
      }
      val got = collectSet(HybridPipeline.materialize(spark, sfDir, plan))
      val atHigh = collectSet(HybridPipeline.materialize(spark, sfDir,
        plan.map { case (lo, hi, _, highWm) => (lo, hi, highWm, highWm) }))
      chunksAgree && got == expect && atHigh == expect
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, r.status.toString)
  }
}
