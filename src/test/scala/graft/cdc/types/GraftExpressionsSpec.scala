package graft.cdc.types

import graft.SparkTestBase
import graft.ext.TextAnalysis
import org.apache.spark.sql.functions._

/** Native expression coverage: SQL registration, agreement with the Scala
  * implementation, codegen participation, null and type-error behavior.
  */
class GraftExpressionsSpec extends SparkTestBase {

  test("a new session resolves every graft_* function through spark.sql.extensions alone") {
    // a new session builds its function registry from the session's
    // extensions, not from the parent's registry, so this holds only when
    // GraftSession sets spark.sql.extensions; no register call here
    val fresh = spark.newSession()
    GraftFunctions.all.foreach { case (id, _, _) =>
      val described = fresh.sql(s"DESCRIBE FUNCTION ${id.funcName}").collect().map(_.getString(0))
      assert(described.exists(_.contains(id.funcName)), s"${id.funcName} not resolved")
    }
    val r = fresh.sql(
      """SELECT graft_fnv64('abc'),
        |       graft_mix64(1L, 2L),
        |       graft_dot(array(1D, 2D), array(3D, 4D)),
        |       graft_simhash64(array('a b c')),
        |       size(graft_minhash(array('a b c'), 4)),
        |       size(graft_winnow('hello world', 4, 2)),
        |       graft_wkb_geojson(CAST(NULL AS BINARY))""".stripMargin).collect()(0)
    assert(r.getLong(0) == TextAnalysis.fnv1a64("abc"))
    assert(r.getLong(1) == graft.ext.Hashing.mix64(1L, 2L))
    assert(r.getDouble(2) == 11.0)
    assert(!r.isNullAt(3))
    assert(r.getInt(4) == 4)
    assert(r.getInt(5) > 0)
    assert(r.isNullAt(6))
  }

  test("graft_fnv64 via SQL agrees with the Scala implementation") {
    GraftFunctions.register(spark)
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("text", "graft_fnv64(text) AS fp").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) == TextAnalysis.fnv1a64(r.getString(0))))
  }

  test("graft_nfc_clean: NFC composition, control strip, whitespace collapse, trim") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val vectors = Seq(
      // decomposed e + U+0301 composes; Angstrom sign U+212B -> U+00C5
      (1L, "cafe\u0301 \u212Bngstro\u0308m", "café Ångström"),
      (2L, "café", "café"),                  // already composed: unchanged
      (3L, "a \t\n\f b", "a b"),                 // ASCII whitespace run collapses
      (4L, "a\u0007b", "ab"),                          // islanded control: no separator
      (5L, "a \u0007 b", "a b"),                       // control between spaces: one space
      (6L, "\t x \r\n", "x"),                          // trim both edges
      (7L, "a b", "a b"),                    // U+00A0 is content, not whitespace
      (8L, "", "")
    ).toDF("id", "raw", "want")
    val got = vectors.selectExpr("id", "want", "graft_nfc_clean(raw) AS got").collect()
    got.foreach(r => assert(r.getString(2) == r.getString(1), s"vector ${r.getLong(0)}"))
    // null in, null out; and SQL face agrees with the Scala implementation
    assert(spark.sql("SELECT graft_nfc_clean(CAST(NULL AS STRING))").collect()(0).isNullAt(0))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("text", "graft_nfc_clean(text) AS c").collect()
    docs.foreach(r => assert(r.getString(1) == TextAnalysis.nfcClean(r.getString(0))))
  }

  test("graft_winnow matches the HOF formulation on ASCII and non-ASCII text") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "ab"), // shorter than k: one gram, one window
      (3L, ""),   // empty: hash of empty string
      (4L, "héllo wörld smørrebrød très longère phrase")
    ).toDF("doc_id", "text")
    val native = docs.selectExpr("doc_id", "graft_winnow(text, 8, 4) AS fps")
    // reference formulation: interpreted HOFs over the same definition
    val hof = docs
      .selectExpr("doc_id",
        "transform(sequence(0, greatest(length(text) - 8, 0)), i -> graft_fnv64(substring(text, i + 1, 8))) AS hs")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, greatest(size(hs) - 4, 0)), j -> array_min(slice(hs, j + 1, 4)))) AS fps")
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n.keySet == h.keySet)
    n.foreach { case (id, fps) => assert(fps == h(id), s"doc $id diverged") }
    assert(n(3L).length == 1) // empty text: single empty-gram fingerprint
  }

  test("graft_dot is bit-identical to the HOF fold and nulls on length mismatch") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS vd")
    val rows = emb.selectExpr(
      "graft_dot(vd, vd) AS native",
      "aggregate(zip_with(vd, vd, (x, y) -> x * y), 0D, (acc, z) -> acc + z) AS hof"
    ).collect()
    assert(rows.nonEmpty)
    // bit-identical, not approximately equal: the oracle compare has no
    // tolerance, so the native loop must fold in exactly the same order
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
    val r2 = spark.sql(
      "SELECT graft_dot(array(1D, 2D), array(1D)), graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1D))")
      .collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1))
  }

  test("graft_dot with a null ELEMENT nulls the fold, matching the HOF form") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D)) AS native,
        |  aggregate(zip_with(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D),
        |    (x, y) -> x * y), 0D, (acc, z) -> acc + z) AS hof""".stripMargin)
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("graft_simhash64 and graft_minhash skip null array elements instead of throwing") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_simhash64(array('a', CAST(NULL AS STRING), 'b')) AS s1,
        |  graft_simhash64(array('a', 'b')) AS s2,
        |  graft_minhash(array('a', CAST(NULL AS STRING), 'b'), 4) AS m1,
        |  graft_minhash(array('a', 'b'), 4) AS m2""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getSeq[Long](2) == r.getSeq[Long](3))
  }

  test("graft_mix64 via SQL agrees with the Scala implementation incl. sign boundaries") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val cases = Seq((0L, 0L), (1L, 2L), (-1L, 63L), (123456789L, 31L),
      (Long.MinValue, 7L), (0x85944171f73967e8L, 5L))
    val rows = cases.toDF("a", "b")
      .selectExpr("a", "b", "graft_mix64(a, b) AS m").collect()
    rows.foreach(r =>
      assert(r.getLong(2) == graft.ext.Hashing.mix64(r.getLong(0), r.getLong(1))))
    // the exact reference values the DuckDB oracle arithmetic reproduces
    assert(graft.ext.Hashing.mix64(1L, 2L) == -4689498862643123097L)
    assert(graft.ext.Hashing.mix64(Long.MinValue, 7L) == -8818719466370675869L)
    // int arguments coerce (ImplicitCastInputTypes)
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT graft_mix64(1, 2)").collect()(0).getLong(0) ==
      graft.ext.Hashing.mix64(1L, 2L))
  }

  test("graft_wkb_geojson via SQL round-trips a point") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((1.5, -2.25)).toDF("x", "y")
    val mkPoint = udf((x: Double, y: Double) => Wkb.encodePoint(x, y))
    val out = df.select(call_function("graft_wkb_geojson", mkPoint($"x", $"y")))
      .collect()(0).getString(0)
    assert(out == """{"type":"Point","coordinates":[1.5,-2.25]}""")
  }

  test("null input yields null (UnaryExpression null handling)") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_fnv64(CAST(NULL AS STRING)), graft_wkb_geojson(CAST(NULL AS BINARY))")
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("wrong argument type fails analysis with the expression's message") {
    GraftFunctions.register(spark)
    val e = intercept[Exception](spark.sql("SELECT graft_fnv64(42)").collect())
    assert(e.getMessage.contains("graft_fnv64"))
  }

  test("expression participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("graft_fnv64(text)")
      .queryExecution.executedPlan
    // the "*(n)" prefix marks WholeStageCodegen spans; the projection
    // containing the expression must carry it
    assert(plan.toString.linesIterator.next().trim.startsWith("*("))
  }

  test("graft_bigrams equals the split+HOF formulation on adversarial and corpus text") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the HOF pipeline graft_bigrams replaced (TextAnalysis.bigramFreq's
    // old body), kept as the reference semantics: NULL when size < 2
    // (filter form), else the transform/slice/concat_ws bigram array
    val ref = "CASE WHEN size(split(text, ' ')) >= 2 THEN " +
      "transform(sequence(0, size(split(text, ' ')) - 2), " +
      "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2))) END"
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df
        .selectExpr("text", s"coalesce($ref, array()) AS want",
          "graft_bigrams(text) AS got")
        .where(col("text").isNotNull)
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"bigrams diverge on [${r.getString(0)}]")
      }
    }
    check(Seq(
      "a b c", "one", "", " leading", "trailing ", "a  doubled  space",
      "   ", "tabs\tdo not\tsplit here", "héllo wörld ünïcode tæst",
      "a", "a ", " a b ", "x y").toDF("text"))
    check(spark.read.parquet(s"$sfDir/documents.parquet").select("text"))
    // null in, null out (explode then drops the row, like the old filter)
    assert(spark.sql("SELECT graft_bigrams(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
  }

  test("graft_ngrams equals the split+slice+concat_ws HOF for n in {1,3,8}") {
    GraftFunctions.register(spark)
    import spark.implicits._
    def ref(n: Int) =
      s"CASE WHEN size(split(text, ' ')) >= $n THEN " +
        s"transform(sequence(0, size(split(text, ' ')) - $n), " +
        s"i -> concat_ws(' ', slice(split(text, ' '), i + 1, $n))) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    def check(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val rows = df
        .selectExpr("text", s"${ref(n)} AS want", s"graft_ngrams(text, $n) AS got")
        .where(col("text").isNotNull)
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"$n-grams diverge on [${r.getString(0)}]")
      }
    }
    val adversarial = Seq(
      "a b c d e f g h i j", "one", "", " leading", "trailing ",
      "a  doubled  space", "   ", "exactly three words",
      "héllo wörld ünïcode tæst wéird", "a ", " a b ").toDF("text")
    for (n <- Seq(1, 3, 8)) {
      check(adversarial, n)
      check(spark.read.parquet(s"$sfDir/documents.parquet").select("text"), n)
    }
    assert(spark.sql("SELECT graft_ngrams(CAST(NULL AS STRING), 3)")
      .collect()(0).isNullAt(0))
  }

  test("graft_sorted_fold equals the sort_array+aggregate HOF bit-for-bit") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // generated (k, v) multisets: duplicate keys, negative/denormal-ish
    // values, singleton and large groups — the fold must match the HOF's
    // IEEE sequence exactly (same sort order, same left fold)
    val rows = (0 until 50000).map { i =>
      val g = i % 257                            // group
      val k = ((i * 2654435761L) % 1000) - 500   // colliding long keys
      val v = math.sin(i.toDouble) * math.pow(10, (i % 13) - 6)
      (g, k, v)
    }
    val df = rows.toDF("g", "k", "v")
    def hof(kt: String) =
      s"aggregate(sort_array(collect_list(struct(CAST(k AS $kt) AS k, v))), " +
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v)"
    def fold(kt: String) =
      s"graft_sorted_fold(collect_list(struct(CAST(k AS $kt) AS k, v)))"
    for (kt <- Seq("BIGINT", "INT", "STRING", "DOUBLE")) {
      val out = df.groupBy(col("g"))
        .agg(expr(hof(kt)).as("want"), expr(fold(kt)).as("got"))
        .collect()
      assert(out.length == 257)
      out.foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"fold diverges for key type $kt at g=${r.getInt(0)}")
      }
    }
    // empty array folds to the seed; null v poisons like the HOF
    assert(spark.sql(
      "SELECT graft_sorted_fold(CAST(array() AS ARRAY<STRUCT<k: BIGINT, v: DOUBLE>>))")
      .collect()(0).getDouble(0) == 0.0)
    assert(spark.sql(
      "SELECT graft_sorted_fold(array(struct(1L AS k, CAST(NULL AS DOUBLE) AS v), " +
        "struct(2L AS k, 3.0D AS v)))")
      .collect()(0).isNullAt(0))
  }

  test("graft_jl_project equals the transform/aggregate HOF formulation coordinate-for-coordinate") {
    GraftFunctions.register(spark)
    // the HOF form randomProjection used before the native expression;
    // doubles must match EXACTLY (same mix64 signs, same i-ascending fold)
    val hof =
      s"""transform(sequence(0, 15), j ->
         |  aggregate(sequence(0, size(embedding) - 1), CAST(0.0 AS DOUBLE),
         |    (acc, i) -> acc + CASE
         |       WHEN graft_mix64(CAST(j AS BIGINT) * 4096 + i, 7L) < 0
         |       THEN -CAST(element_at(embedding, i + 1) AS DOUBLE)
         |       ELSE  CAST(element_at(embedding, i + 1) AS DOUBLE) END))"""
        .stripMargin
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", s"$hof AS want",
        "graft_jl_project(embedding, 16, 7L) AS got")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = r.getSeq[Double](1)
      val got = r.getSeq[Double](2)
      assert(want == got, s"projection diverges on vec_id=${r.getLong(0)}")
    }
    assert(spark.sql("SELECT graft_jl_project(CAST(NULL AS ARRAY<FLOAT>), 16, 7L)")
      .collect()(0).isNullAt(0))
  }
}
