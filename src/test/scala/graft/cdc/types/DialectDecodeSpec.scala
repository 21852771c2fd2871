package graft.cdc.types

import graft.SparkTestBase
import graft.cdc.model.Changelog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

/** The three dialect wire faces decode back to what was encoded. Each
  * query synthesizes its wire records from `orders` and decodes them
  * (TiKV KV layout, OceanBase logproxy text maps, the test_decoding token
  * scan); the reference is the arithmetic the synthesis applied, stated
  * directly over `orders`. The decode path and the restatement share no
  * code, so equality checks the decoder, not a second run of it.
  */
class DialectDecodeSpec extends SparkTestBase {

  private def decoded(name: String): DataFrame = TypeQueries.queries(name)(spark, sfDir)
  private def orders = Changelog.table(spark, sfDir, "orders")

  test("tikv_kv_decode equals its arithmetic restatement over orders") {
    val ms = unix_millis(col("o_orderdate").cast("timestamp"))
    val op = when(col("o_orderstatus") === "F", "d").otherwise("c")
    val want = orders.select(
      (ms * 262144L + col("o_orderkey") % 262144L).as("offset"),
      op.as("op"), ms.as("ts_ms"), lit(42L).as("table_id"),
      col("o_orderkey"),
      when(op === "c", col("o_totalprice").cast(DecimalType(14, 2))
        .cast(StringType)).as("o_totalprice"),
      when(op === "c", col("o_orderdate").cast("date")).as("o_orderdate"),
      when(op === "c", col("o_orderstatus")).as("o_orderstatus"))
    assert(assertSameRows(decoded("tikv_kv_decode"), want) > 0)
  }

  test("oceanbase_logproxy_decode equals its arithmetic restatement over orders") {
    val tsS = (unix_millis(col("o_orderdate").cast("timestamp")) / 1000).cast("long")
    val op = when(col("o_orderstatus") === "F", "d")
      .when(col("o_orderstatus") === "P", "u").otherwise("c")
    val want = orders.select(
      (tsS * 1000000L + col("o_orderkey")).as("offset"), op.as("op"),
      (tsS * 1000L).as("ts_ms"),
      concat(lit("tenant_"), col("o_custkey") % 3).as("tenant_name"),
      col("o_orderkey"),
      (col("o_totalprice") + when(op === "d", 10).otherwise(0))
        .cast(DecimalType(14, 2)).cast(StringType).as("o_totalprice"),
      col("o_orderdate").cast("date").as("o_orderdate"),
      col("o_orderstatus"))
    assert(assertSameRows(decoded("oceanbase_logproxy_decode"), want) > 0)
  }

  test("pg_testdecoding_decode equals its arithmetic restatement over orders") {
    val k = col("o_orderkey")
    val op = when(col("o_orderstatus") === "F", "d")
      .when(col("o_orderstatus") === "P", "u").otherwise("c")
    val want = orders.select(
      k.as("offset"), op.as("op"),
      ((lit(1704067200L) + k % 997) * 1000L).as("ts_ms"),
      lit("public").as("schema_name"), k.as("o_orderkey"),
      when(k % 7 === 0, lit(null).cast(StringType))
        .otherwise(concat(col("o_orderpriority"),
          lit("'s new-tuple: x[text]:'y'"))).as("o_name"),
      (col("o_totalprice") + when(op === "d", 10).otherwise(0))
        .cast(DecimalType(14, 2)).cast(StringType).as("o_totalprice"),
      col("o_orderdate").cast("date").as("o_orderdate"))
    assert(assertSameRows(decoded("pg_testdecoding_decode"), want) > 0)
  }
}
