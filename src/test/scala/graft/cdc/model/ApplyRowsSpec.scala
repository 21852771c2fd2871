package graft.cdc.model

import graft.SparkTestBase
import graft.cdc.model.RowImage.DeclaredTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The engine's one JDBC upsert writer under concurrent partitions: the
  * partitions of one batch run as parallel transactions, and when they
  * share keys each one holds row locks the others want. Taking the locks in
  * one global (key) order is what keeps them from forming a cycle. And its
  * tie rule: a row at its key's stored offset is a redelivery, a no-op when
  * identical and a [[RowImage.TiedOffsetException]] when not.
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

  private def newDb(): String =
    s"jdbc:derby:${java.nio.file.Files.createTempDirectory("apply_rows")}/db;create=true"

  private def tiedOffset(e: Throwable): Option[RowImage.TiedOffsetException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: RowImage.TiedOffsetException => t }

  test("a 4-partition batch whose partitions share keys lands in Derby without a lock cycle") {
    val url = newDb()
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

  test("two different rows of one key at one offset fail, within a batch and across batches") {
    val url = newDb()
    RowImage.createStateTable(url, t, "TIES")
    val within = frame(Seq(
      Row(3L, "c", Row(1L, "x"), Row(1L, "x", 10L)),
      Row(7L, "u", Row(2L, "y"), Row(2L, "y", 20L)),
      Row(7L, "u", Row(2L, "y"), Row(2L, "y", 21L))), 1)
    val e1 = intercept[Exception](RowImage.applyRows(within, t, url, "TIES"))
    val tie = tiedOffset(e1).getOrElse(fail("not a tied-offset failure", e1))
    assert(tie.offset == 7L && tie.key == "a=2, b=y")
    // the failed partition's transaction rolled back as a whole
    assert(flat(RowImage.readState(spark, t, url, "TIES")).isEmpty)

    val first = frame(Seq(Row(5L, "u", Row(1L, "x"), Row(1L, "x", 10L))), 1)
    RowImage.applyRows(first, t, url, "TIES")
    // same offset and values, another op: a delete claiming the update's position
    val across = frame(Seq(Row(5L, "d", Row(1L, "x"), null)), 1)
    val e2 = intercept[Exception](RowImage.applyRows(across, t, url, "TIES"))
    assert(tiedOffset(e2).map(x => (x.key, x.offset)).contains(("a=1, b=x", 5L)), e2)
    assert(flat(RowImage.readState(spark, t, url, "TIES")) == Set((1L, "x", 5L, 10L)))
  }

  test("an exact replay, and a redelivery inside one batch, are no-ops") {
    val url = newDb()
    RowImage.createStateTable(url, t, "REPLAY")
    val batch = frame(Seq(
      Row(1L, "c", Row(1L, "x"), Row(1L, "x", 10L)),
      Row(1L, "c", Row(1L, "x"), Row(1L, "x", 10L)),
      Row(2L, "c", Row(2L, "y"), Row(2L, "y", 20L)),
      Row(4L, "u", Row(2L, "y"), Row(2L, "y", null)),
      Row(6L, "d", Row(3L, "z"), null),
      Row(6L, "d", Row(3L, "z"), null)), 2)
    RowImage.applyRows(batch, t, url, "REPLAY")
    val once = RowImage.readState(spark, t, url, "REPLAY").collect().map(_.toSeq).toSet
    RowImage.applyRows(batch, t, url, "REPLAY")
    assert(RowImage.readState(spark, t, url, "REPLAY").collect().map(_.toSeq).toSet == once)
    assert(once == RowImage.upsertMaterialize(batch, t).collect().map(_.toSeq).toSet)
  }
}
