package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fixture built twice renders once: after the first build's first
    * action, the rebuilt plan reads the same cached relation, already
    * loaded.
    */
  def assertRendersOnce(fixture: => DataFrame): Unit = {
    def builders(df: DataFrame) = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder
    }
    val first = fixture
    first.count()
    val second = builders(fixture)
    assert(second.size == 1, "the rebuilt fixture reads no cached relation")
    assert(second.head eq builders(first).head)
    assert(second.head.isCachedColumnBuffersLoaded)
  }

  /** Two formulations return the same rows: equal multisets over the same
    * column names, matched by name and compared as string casts (so they
    * may differ in column order and numeric width). Returns the row count.
    */
  def assertSameRows(got: DataFrame, want: DataFrame): Long = {
    assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq)
    def bag(df: DataFrame) = df.select(got.columns.toSeq.map(c => col(c).cast(StringType)): _*)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val (g, w) = (bag(got), bag(want))
    val diff = (g.keySet ++ w.keySet).filter(r => g.get(r) != w.get(r))
    assert(diff.isEmpty, s"${diff.size} rows differ, e.g. " + diff.take(3).map(r =>
      s"${r.mkString("(", ", ", ")")} x${g.getOrElse(r, 0)} (want x${w.getOrElse(r, 0)})")
      .mkString("; "))
    g.values.sum.toLong
  }

  /** Run `consumer`, lose every block cached under the fixtures' plans (as
    * an executor loss would; other frames' blocks stay), then build and run
    * the consumer again: the same rows, recomputed from lineage.
    */
  def assertSurvivesBlockLoss(fixtures: DataFrame*)(consumer: => DataFrame): Unit = {
    def rows = consumer.collect().map(_.toString).sorted.toSeq
    val want = rows
    def cached(rdd: RDD[_]): Seq[RDD[_]] =
      (if (rdd.getStorageLevel != StorageLevel.NONE) Seq(rdd) else Nil) ++
        rdd.dependencies.flatMap(d => cached(d.rdd))
    val lost = fixtures.flatMap(f => cached(f.queryExecution.toRdd)).distinct
    assert(lost.nonEmpty, "the fixtures hold no cached blocks")
    lost.foreach { rdd =>
      val level = rdd.getStorageLevel
      rdd.unpersist(blocking = true)
      rdd.persist(level)
    }
    assert(rows == want)
  }
}

object SparkTestBase {
  // local[4] with 4 shuffle partitions whatever the host: specs that pin
  // partition-dependent plans or counts see the same layout everywhere
  lazy val session: SparkSession = GraftSession(cpus = 4, sfDir = None)
}
