package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: reads an existing testdata SF directory
  * and writes a factor-N copy with shifted keys, preserving schema,
  * referential integrity, and value distributions. Used to produce the sf1
  * bench input (factor 10 over sf0.1 -> ~6M lineitem) without touching the
  * read-only driver testdata.
  *
  * Replication scheme: each table is exploded over `copy in [0, factor)`;
  * every key column is shifted by `copy * stride(domain)` where stride is
  * the domain's max+1 probed from the source, so copies never collide and
  * every foreign key lands on the matching shifted dimension row. Dimension
  * tables small enough to be genuinely fixed-cardinality (region, nation)
  * pass through unchanged. Payload perturbations keep near-dup/similarity
  * workloads non-degenerate at scale: document text gets a per-copy suffix
  * token (n_chars recomputed), embeddings get a tiny per-copy additive
  * offset, event timestamps get +copy microseconds so event-time order stays
  * total. No randomness anywhere -> identical bytes on re-run.
  *
  * Output is one plain parquet FILE per table (coalesce(1) then rename), so
  * both Spark and the DuckDB oracle (`read_parquet('<dir>/<t>.parquet')`)
  * read it exactly like the driver-generated directories.
  *
  * Run: sbt "runMain graft.tools.GenScale /root/testdata/sf0.1 bench-data/sf1 10"
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.drop(1).headOption.getOrElse("bench-data/sf1")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession(graft.GraftSession.cpus, None)

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // key-domain strides probed once from the source (planner-scale collect)
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head.getLong(0) + 1L

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val events = read("events")
    val documents = read("documents")
    val embeddings = read("embeddings")

    val cS = stride(customer, "c_custkey")
    val sS = stride(supplier, "s_suppkey")
    val pS = stride(part, "p_partkey")
    val oS = stride(orders, "o_orderkey")
    val eS = stride(events, "event_id")
    val dS = stride(documents, "doc_id")
    val vS = stride(embeddings, "vec_id")

    /** Explode df over the copy index and shift the named long keys; no join
      * (explode of a literal sequence), so the plan is a single narrow map.
      */
    def replicate(df: DataFrame, shifts: Map[String, Long])(
        extra: DataFrame => DataFrame): DataFrame = {
      val base = df
        .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      val shifted = shifts.foldLeft(base) { case (d, (c, st)) =>
        d.withColumn(c, (col(c) + col("copy") * lit(st)).cast(df.schema(c).dataType))
      }
      extra(shifted).drop("copy").select(df.columns.map(col).toIndexedSeq: _*)
    }

    val outTmp = s"$dst/_tmp"
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$outTmp/$name"
      // single FILE (oracle reads read_parquet('<dir>/<t>.parquet')) but
      // SMALL row groups: parquet only splits at row-group boundaries, so
      // a coalesce(1) file with default 128MB groups caps every downstream
      // scan at parallelism 1 — an explode-heavy query at sf10 then runs
      // its whole map side in one task (round-9 bench caught one at 92min
      // of single-task CPU). 2MB groups keep even the small doc tables
      // splittable ~20-way (pair with spark.sql.files.maxPartitionBytes in
      // the run scripts); scan-task overhead at these sizes is negligible.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 2L * 1024 * 1024)
        .parquet(tmp)
      val dir = new java.io.File(tmp)
      val partFile = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val target = new java.io.File(s"$dst/$name.parquet")
      if (target.exists()) target.delete()
      java.nio.file.Files.move(partFile.toPath, target.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"GENSCALE $name -> ${target.getPath} (${target.length() / 1048576} MiB)")
    }

    new java.io.File(dst).mkdirs()

    // fixed-cardinality dims pass through
    write("region", read("region"))
    write("nation", read("nation"))

    write("customer", replicate(customer, Map("c_custkey" -> cS))(identity))
    write("supplier", replicate(supplier, Map("s_suppkey" -> sS))(identity))
    write("part", replicate(part, Map("p_partkey" -> pS))(identity))
    write("orders",
      replicate(orders, Map("o_orderkey" -> oS, "o_custkey" -> cS))(identity))
    write("lineitem",
      replicate(lineitem,
        Map("l_orderkey" -> oS, "l_partkey" -> pS, "l_suppkey" -> sS))(identity))
    // +copy microseconds keeps (user_id, ts) and global event-time order total
    write("events", replicate(events, Map("event_id" -> eS)) { d =>
      d.withColumn("ts", expr("timestampadd(MICROSECOND, copy, ts)"))
    })
    // Clone-group BOUNDING (the round-8 scaling artifact's fix): a naive
    // per-copy suffix keeps all `factor` copies of a document mutually
    // near-duplicate, so near-dup PAIR counts grow as factor^2 and the
    // pair-output dedup queries go quadratic by construction of the
    // generator, not of the operator. Copies are therefore grouped into
    // buckets of CloneGroup: within a bucket, copies differ only by a
    // per-copy suffix token (near-dups — detectable, like a real corpus's
    // mirror/revision families); ACROSS buckets, a deterministic word-level
    // edit rewrites ALTERNATING positions of a 23-cycle ((i+bucket) mod 23
    // even -> a bucket-keyed token, ~52% of positions), which (a) leaves no
    // surviving word 2-gram, so shingle features (minhash/simhash bands,
    // span grams) share NOTHING across buckets — zero cross-bucket LSH
    // candidates at ANY factor, not merely a sub-threshold Jaccard (the
    // round-9 sf10 run showed a 5-cycle phase scheme still leaks ~24% of
    // same-phase bucket pairs into the band join, which is quadratic in
    // bucket count — 1604s for dedup_segment_near); (b) keeps word-SET
    // Jaccard at ~0.15 cross-bucket, far under the 0.5 gates; (c) phases
    // repeat only at bucket distance 23 (factor >= 575), so sf10's 20
    // buckets are pairwise phase-distinct. Per original document the
    // near-dup pair count is (factor/CloneGroup) * C(CloneGroup, 2) —
    // LINEAR in factor — while clone families stay present at every scale.
    // The replacement token is keyed by (bucket, position, ORIGINAL doc
    // identity). The doc key matters: the base corpus contains natural
    // near-dup families, and a token shared across documents would keep
    // those families near-dup in EVERY bucket — family size would scale
    // with factor and family pair counts with factor^2 (the second
    // quadratic source the round-9 sf10 run exposed). Doc-keyed tokens
    // confine natural families to the unmodified bucket 0, whose size is
    // CloneGroup regardless of factor. The key must be the PRE-shift
    // identity (doc_id - copy*stride) so the CloneGroup copies inside a
    // bucket still match each other.
    val CloneGroup = 5
    write("documents", replicate(documents, Map("doc_id" -> dS)) { d =>
      d.withColumn("bucket", expr(s"copy div $CloneGroup"))
        .withColumn("text",
          when(col("bucket") === 0, col("text"))
            .otherwise(expr(
              s"""concat_ws(' ', transform(split(text, ' '), (w, i) ->
                 |  CASE WHEN pmod(pmod(i + bucket, 23), 2) = 0
                 |       THEN concat('zq', cast(bucket as string), 'x',
                 |                   cast(pmod(i, 7) as string), 'd',
                 |                   cast(doc_id - copy * ${dS}L as string))
                 |       ELSE w END))""".stripMargin)))
        .withColumn("text",
          when(col("copy") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" c"), col("copy"))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("bucket")
    })
    // same bounding for vectors: within a bucket, copies get a tiny slot
    // offset (cosine ~= 1, detectable near-dups); across buckets each
    // dimension's SIGN flips by a (bucket, dim)-keyed hash parity — norms
    // are preserved exactly and cross-bucket cosine concentrates near 0
    // (|E| ~ dim^-1/2 ~= 0.125 at dim 64), far below the 0.3/0.44 gates
    write("embeddings", replicate(embeddings, Map("vec_id" -> vS)) { d =>
      d.withColumn("bucket", expr(s"copy div $CloneGroup"))
        .withColumn("embedding", expr(
          s"""transform(embedding, (x, i) -> cast(
             |  (x + cast(pmod(copy, $CloneGroup) as float) * 0.001f)
             |  * cast(CASE WHEN bucket = 0 THEN 1
             |              ELSE 1 - 2 * pmod(xxhash64('embsign', bucket, i), 2)
             |         END as float) as float))""".stripMargin))
        .drop("bucket")
    })

    new java.io.File(outTmp).delete()
    spark.stop()
  }
}
