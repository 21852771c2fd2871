package graft.cdc.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.model.{Changelog, RowImage}

/** Skew-resistant variant of the last-writer-wins merge: a hot key (one pk
  * receiving a disproportionate share of the changelog) would make the
  * single-shuffle max aggregation reduce on one task. This is the salted
  * form of [[RowImage.lastWriterWins]] over the scalar changelog — per
  * (key, offset-derived salt), then per key. Semantics are identical to
  * [[Changelog.upsertMaterialize]] (max is associative) — proven in
  * SkewSpec and by sharing the DuckDB oracle.
  */
object Skew {

  def saltedUpsertMaterialize(
      snapshot: DataFrame,
      changes: DataFrame,
      buckets: Int
  ): DataFrame =
    Changelog.scalarOut(RowImage.lastWriterWins(
      snapshot.unionByName(changes), col("pk"), "val", Some(buckets)))
}
