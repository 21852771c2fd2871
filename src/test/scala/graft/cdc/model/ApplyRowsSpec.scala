package graft.cdc.model

import graft.SparkTestBase
import graft.cdc.model.RowImage.DeclaredTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The engine's one JDBC upsert writer under concurrent partitions: the
  * partitions of one batch run as parallel transactions, and when they
  * share keys each one holds row locks the others want. Taking the locks in
  * one global (key) order is what keeps them from forming a cycle.
  */
class ApplyRowsSpec extends SparkTestBase {

  private val t = DeclaredTable("acct",
    StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("v", LongType))),
    Seq("a", "b"))

  private val irSchema = StructType(Seq(
    StructField("offset", LongType), StructField("op", StringType),
    StructField("key", t.keyType), StructField("after", t.schema)))

  private def frame(rows: Seq[Row], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), irSchema)

  private def flat(df: DataFrame): Set[(Long, String, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  test("a 4-partition batch whose partitions share keys lands in Derby without a lock cycle") {
    val url = s"jdbc:derby:${java.nio.file.Files.createTempDirectory("apply_rows")}/db;create=true"
    val keys = for (a <- 0L until 50L; b <- Seq("x", "y", "z")) yield (a, b)
    // every key present first, so each update holds its row lock to commit
    val seed = frame(keys.map { case (a, b) => Row(0L, "c", Row(a, b), Row(a, b, -1L)) }, 1)
    RowImage.createStateTable(url, t, "ACCT")
    RowImage.applyRows(seed, t, url, "ACCT")

    // partition p updates every key once, in its own shuffled order, at
    // offsets interleaved across the partitions (parallelize slices the
    // sequence evenly, so slice p is exactly permutation p)
    val rnd = new scala.util.Random(11)
    val batch = frame((0 until 4).flatMap { p =>
      rnd.shuffle(keys).zipWithIndex.map { case ((a, b), i) =>
        val off = 1L + 4L * i + p
        Row(off, "u", Row(a, b), Row(a, b, off))
      }
    }, 4)
    assert(batch.rdd.getNumPartitions == 4)
    // under local[N] one failed task fails the job (spark.task.maxFailures
    // is 1), so a deadlock victim surfaces here as an exception
    RowImage.applyRows(batch, t, url, "ACCT")

    val got = flat(RowImage.readState(spark, t, url, "ACCT"))
    val want = flat(RowImage.upsertMaterialize(seed.unionByName(batch), t))
    assert(got.size == keys.size)
    assert(got == want)
  }
}
