package graft.cdc.types

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** The native one-pass scanners (`graft_testdecoding_images` /
  * `graft_testdecoding_header`, [[TestDecodingScan]]) must be
  * OBSERVATIONALLY IDENTICAL to the `regexp_extract_all`-token-array +
  * HOF-routing / `regexp_extract`-per-group Column formulations they
  * replaced — same grammar, one matcher sweep with fused routing instead
  * of a pass per capture group plus per-index array HOFs. This spec pins
  * the equality on the adversarial corners (markers inside quoted values,
  * doubled quotes, unchanged-toast, bare tokens, tokenless UPDATEs,
  * unparseable headers) and on generated payloads, by running BOTH
  * formulations over the same lines and asserting cell-level equality.
  */
class TestDecodingScanSpec extends SparkTestBase {

  private def s = spark
  GraftFunctions.register(SparkTestBase.session)

  // --- fused image routing --------------------------------------------

  /** The ORIGINAL Column formulation of token routing — three token
    * arrays, `array_position`/`filter`/`transform` index passes,
    * `map_from_arrays` — kept here as the reference semantics the fused
    * native `graft_testdecoding_images` must equal field-for-field.
    */
  private def columnFormImages(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType => SStr}
    val toks = lit(DialectWire.TestDecodingToken)
    val tokenized = df.select(
      col("verb"), col("payload"),
      regexp_extract_all(col("payload"), toks, lit(1)).as("marks"),
      regexp_extract_all(col("payload"), toks, lit(2)).as("tok_names"),
      regexp_extract_all(col("payload"), toks, lit(3)).as("tok_raws"))
    val marks = col("marks")
    val newAt = coalesce(array_position(marks, "new-tuple:"), lit(0L))
    val idx = filter(
      sequence(lit(1L), greatest(size(marks).cast(LongType), lit(1L))),
      i => i <= size(marks))
    def fieldsWhere(cond: Column => Column): Column = {
      val keep = filter(idx, i =>
        get(marks, (i - 1).cast(IntegerType)) === "" && cond(i))
      val pick = (arr: Column) =>
        transform(keep, i => get(arr, (i - 1).cast(IntegerType)))
      val vals = transform(pick(col("tok_raws")), raw =>
        when(raw.startsWith("'"),
          regexp_replace(raw.substr(lit(2), length(raw) - 2), "''", "'"))
          .when(raw === "null", lit(null).cast(SStr))
          .otherwise(raw))
      map_from_arrays(pick(col("tok_names")), vals)
    }
    val allMap = fieldsWhere(_ => lit(true))
    val preMap = fieldsWhere(i => i < newAt)
    val postMap = fieldsWhere(i => i > newAt)
    val hasOld = get(marks, lit(0)) === "old-key:"
    tokenized.select(
      col("verb"), col("payload"),
      when(col("verb") === "DELETE", allMap)
        .when(col("verb") === "UPDATE" && hasOld, preMap).as("ref_before"),
      when(col("verb") === "INSERT", allMap)
        .when(col("verb") === "UPDATE" && hasOld, postMap)
        .when(col("verb") === "UPDATE" && !hasOld, allMap).as("ref_after"))
  }

  private def assertImagesEqual(rows: Seq[(String, String)]): Unit = {
    val sess = s; import sess.implicits._
    val df = rows.toDF("verb", "payload")
    // maps compare through their (insertion-ordered) entry arrays — both
    // formulations emit fields in token order
    def ents(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(null)).otherwise(map_entries(c))
    val cmp = columnFormImages(df)
      .withColumn("im", call_function("graft_testdecoding_images",
        col("verb"), col("payload")))
      .select(col("verb"), col("payload"),
        (ents(col("ref_before")) <=> ents(col("im.before_map"))) &&
          (ents(col("ref_after")) <=> ents(col("im.after_map"))))
    val bad = cmp.collect().filterNot(_.getBoolean(2))
      .map(r => s"${r.getString(0)}: ${r.getString(1)}")
    assert(bad.isEmpty, s"native/column image routing diverges on: ${bad.mkString(" | ")}")
  }

  test("fused image routing equals the Column formulation on adversarial cases") {
    assertImagesEqual(Seq(
      ("INSERT", "id[bigint]:1 body[text]:'plain' amt[numeric]:1.00"),
      ("DELETE", "id[bigint]:1 body[text]:'gone'"),
      // full UPDATE: old-key + new-tuple split
      ("UPDATE", "old-key: id[bigint]:1 new-tuple: id[bigint]:2 body[text]:'it''s new'"),
      // default replica identity: no old image at all
      ("UPDATE", "id[bigint]:3 body[text]:unchanged-toast-datum amt[numeric]:2.00"),
      // marker text inside a quoted value must not split the images
      ("UPDATE", "old-key: id[bigint]:4 new-tuple: id[bigint]:4 note[text]:'x new-tuple: y[text]:''z'''"),
      // old-key but NO new-tuple (key-only wal record): before empty-split edge
      ("UPDATE", "old-key: id[bigint]:5"),
      ("INSERT", "v[text]:null w[text]:'null' x[text]:''''"),
      // degenerate lone-quote bare token strips to "" in both forms
      ("INSERT", "x[text]:' y[bigint]:6"),
      ("INSERT", ""),
      // tokenless UPDATE: the Column form's hasOld is an out-of-bounds get
      // (SQL NULL), so BOTH images are NULL — not empty maps
      ("UPDATE", ""),
      ("DELETE", ""),
      ("UPDATE", "old-key: new-tuple:")))
  }

  test("fused image routing equals the Column formulation on generated payloads") {
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8))
    val value = Gen.oneOf(
      word,
      Gen.const("null"),
      Gen.const(DialectWire.UnchangedToast),
      word.map(w => s"'$w''s new-tuple: trap'"),
      word.map(w => s"'$w'"))
    // unique field names per payload (map_from_arrays rejects duplicates)
    val fieldsGen = Gen.listOf(Gen.zip(word, value)).map(_.zipWithIndex
      .map { case ((n, v), i) => s"${n}_$i[t]:$v" })
    val payloadGen = for {
      fields <- fieldsGen
      hasOld <- Gen.oneOf(true, false)
      hasNew <- Gen.oneOf(true, false)
      cut <- Gen.choose(0, math.max(fields.length, 1))
    } yield {
      val (pre, post) = fields.splitAt(cut)
      ((if (hasOld) Seq("old-key:") else Nil) ++ pre ++
        (if (hasNew) Seq("new-tuple:") else Nil) ++ post).mkString(" ")
    }
    val rowGen = Gen.zip(Gen.oneOf("INSERT", "UPDATE", "DELETE"), payloadGen)
    val samples = Gen.listOfN(300, rowGen).sample.getOrElse(Nil)
    assert(samples.nonEmpty)
    assertImagesEqual(samples)
  }

  // --- header scan ---------------------------------------------------

  private val headerLines = Seq(
    "table public.orders: INSERT: id[bigint]:1",
    "table public.orders: UPDATE: old-key: id[bigint]:1 new-tuple: id[bigint]:2",
    "table myschema.t2: DELETE: id[bigint]:9",
    // payload containing ': INSERT: ' text inside a quoted value
    "table public.orders: INSERT: note[text]:'see table x.y: INSERT: trick'",
    // unparseable: table name with ':', TRUNCATE verb, quoted identifier
    "table public.we:ird: INSERT: id[bigint]:1",
    "table public.orders: TRUNCATE: (no-flags)",
    "table public.\"odd name\": INSERT: id[bigint]:1",
    "BEGIN 123",
    "COMMIT 123 (at 2024-01-01 00:00:01+00)",
    // line-terminator semantics, swept byte-wise since r13 (the wire never
    // emits these; Java regex `^`/`$`/`.` behavior is the pinned contract):
    // `$` tolerates exactly one FINAL terminator sequence...
    "table public.orders: INSERT: id[bigint]:1\n",
    "table public.orders: INSERT: id[bigint]:1\r\n",
    "table public.orders: INSERT: id[bigint]:1\r",
    "table public.orders: INSERT: id[bigint]:1\u0085",
    "table public.orders: INSERT: id[bigint]:1\u2028",
    "table public.orders: INSERT: id[bigint]:1\u2029",
    "table public.orders: INSERT: \n", // empty payload + final terminator
    // ...but `.` rejects a terminator strictly inside the payload,
    // including a doubled trailing one
    "table public.orders: INSERT: id[bigint]:1\nid[bigint]:2",
    "table public.orders: INSERT: id[bigint]:1\n\n",
    "table public.orders: INSERT: id[bigint]:1\u0085\n",
    "table public.orders: INSERT: id[bigint]:1\r\r\n",
    // while the negated classes [^.]/[^:] ACCEPT terminators inside the
    // schema/table groups
    "table pub\nlic.orders: INSERT: id[bigint]:1",
    "table public.ord\rers: INSERT: id[bigint]:1")

  test("header scan equals the regexp_extract formulation line by line") {
    val sess = s; import sess.implicits._
    val h = DialectWire.TestDecodingHeader
    val df = headerLines.toDF("data").select(
      col("data"),
      call_function("graft_testdecoding_header", col("data")).as("native"),
      // regexp_extract returns "" on no-match; the native form returns
      // all-NULL fields. Normalize the regex form: a no-match line (group 2
      // empty; the grammar cannot extract an empty table name) -> NULLs.
      when(regexp_extract(col("data"), h, 2) === "",
        lit(null).cast(TestDecodingScan.headerType))
        .otherwise(struct(
          regexp_extract(col("data"), h, 1).as("schema_name"),
          regexp_extract(col("data"), h, 2).as("table_name"),
          regexp_extract(col("data"), h, 3).as("verb"),
          regexp_extract(col("data"), h, 4).as("payload"))).as("regex"))
    val rows = df.select(
      col("data"),
      (col("native") <=> col("regex")) ||
        // native no-match = non-null struct of 4 NULL fields
        (col("regex").isNull && col("native.table_name").isNull)).collect()
    val bad = rows.filterNot(_.getBoolean(1)).map(_.getString(0))
    assert(bad.isEmpty, s"native/regex header parses diverge on: ${bad.mkString(" | ")}")
  }

  test("decode raises on an unparseable 'table' line (native header path)") {
    val sess = s; import sess.implicits._
    import graft.cdc.model.RowImage
    import org.apache.spark.sql.types._
    val t = RowImage.DeclaredTable("orders",
      StructType(Seq(StructField("id", LongType))), pkCols = Seq("id"))
    val lines = Seq(
      ("0/101", 1L, "table public.we:ird: INSERT: id[bigint]:1"),
      ("0/102", 1L, "COMMIT 1 (at 2024-01-01 00:00:01+00)")).toDF("lsn", "xid", "data")
    val ex = intercept[Exception] {
      DialectWire.decodeTestDecoding(lines, t).collect()
    }
    assert(ex.getMessage.contains("unparseable") ||
      Option(ex.getCause).exists(_.getMessage.contains("unparseable")))
  }

  test("a duplicate column name inside one image fails loud (map dedup policy parity)") {
    // real test_decoding never repeats a column within one tuple image, so
    // a repeat is malformed/hostile wire input; the native scanner must
    // RAISE like the replaced map_from_arrays formulation did under the
    // default EXCEPTION dedup policy — not silently build a
    // first-key-wins map
    val sess = s; import sess.implicits._
    val dup = Seq(("INSERT", "a[text]:'x' a[text]:'y'")).toDF("verb", "payload")
    val ex = intercept[Exception] {
      dup.select(call_function("graft_testdecoding_images",
        col("verb"), col("payload"))).collect()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("duplicate column name"))
        || mentions(t.getCause))
    assert(mentions(ex), s"expected duplicate-name failure, got: ${ex.getMessage}")
    // the same name on BOTH sides of an UPDATE is two separate maps — legal
    val ok = Seq(("UPDATE", "old-key: a[text]:'x' new-tuple: a[text]:'y'"))
      .toDF("verb", "payload")
      .select(call_function("graft_testdecoding_images",
        col("verb"), col("payload")).as("im"))
      .select(expr("element_at(im.before_map, 'a')").as("b"),
        expr("element_at(im.after_map, 'a')").as("a"))
      .head()
    assert(ok.getString(0) == "x" && ok.getString(1) == "y")
  }

  // --- the persisted test_decoding fixture ------------------------------

  test("the test_decoding lines render once and are served from the cache") {
    assertRendersOnce(TypeQueries.testDecodingLines(s, sfDir))
  }

  test("the test_decoding decode recomputes after the fixture's cached blocks are lost") {
    assertSurvivesBlockLoss(TypeQueries.testDecodingLines(s, sfDir))(
      graft.SparkEntry.queries("pg_testdecoding_decode")(s, sfDir))
  }
}
