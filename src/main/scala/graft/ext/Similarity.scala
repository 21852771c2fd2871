package graft.ext

import graft.cdc.types.PqBooksLit
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scale design: the query set is small and broadcast, so brute force is a
  * BroadcastNestedLoopJoin — each executor scans its partition of the corpus
  * once (embarrassingly parallel, no shuffle of the corpus). The LSH variant
  * replaces the corpus scan with a bucket equi-join for corpus-sized query
  * sets.
  *
  * The cosine inner product is `graft_dot`, a native codegen'd expression
  * ([[graft.cdc.types.DotProduct]]) computing the same sequential double
  * fold as the `aggregate(zip_with(...))` HOF form (bit-identical, so the
  * DuckDB oracles are unchanged) at compiled-loop speed. Embeddings are
  * cast to double arrays once per row, below the join, never per pair.
  */
object Similarity {

  /** Cast a float embedding column to array<double> (exact widening). */
  private[ext] def toDouble(a: String): Column =
    expr(s"transform($a, x -> CAST(x AS DOUBLE))")

  private[ext] def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private[ext] def norm(vd: Column): Column = sqrt(dot(vd, vd))

  /** vec_id + double embedding + its L2 norm — the per-row base every
    * variant builds its sides from.
    */
  private[ext] def normed(emb: DataFrame): DataFrame = {
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    emb.select(col("vec_id"), toDouble("embedding").as("vd"))
      .withColumn("nrm", norm(col("vd")))
  }

  /** Hybrid lexical+dense retrieval: a BM25 shortlist per query
    * ([[TextAnalysis.bm25TopK]], kLex candidates), re-ranked by exact
    * cosine between the query's embedding and each shortlisted document's
    * embedding — the standard two-stage retrieval a RAG/data-curation
    * pipeline runs, composed from two operators that are each
    * oracle-exact, so the composition is too.
    *
    * Scale shape: only the shortlist (nQueries x kLex rows, scalars) ever
    * meets the embedding table — a hash equi-join on doc_id where the
    * shortlist side broadcasts; cosine is computed for shortlist rows
    * ONLY, never the corpus. The final window partitions per query over
    * <= kLex rows.
    *
    * Convention: a query's embedding is the corpus embedding whose
    * `vec_id` equals the query's `qid` (the query-by-example form; swap
    * in an external query-vector table 1:1 if you have one).
    */
  def hybridSearchTopK(
      docs: DataFrame, emb: DataFrame, queries: DataFrame,
      kLex: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortlist = TextAnalysis.bm25TopK(docs, queries, kLex)
      .select(col("qid"), col("doc_id"), col("score").as("bm25"))
    val base = normed(emb)
    val qv = base.select(col("vec_id").as("qid"),
      col("vd").as("qv"), col("nrm").as("qnorm"))
    val dv = base.select(col("vec_id").as("doc_id"),
      col("vd").as("dv"), col("nrm").as("dnorm"))
    broadcast(shortlist)
      .join(dv, Seq("doc_id"))
      .join(broadcast(qv), Seq("qid"))
      .withColumn("sim", dot(col("qv"), col("dv")) / (col("qnorm") * col("dnorm")))
      .select(col("qid"), col("doc_id"), col("bm25"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("doc_id"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("bm25"), col("sim"))
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors. Rank ties broken by neighbor id for
    * determinism.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normed(emb)
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnorm"))
    val n = base.select(col("vec_id").as("nid"), col("vd").as("nv"), col("nrm").as("nnorm"))
    val scored = n.crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
    scored
      // project to scalars BEFORE the rank window: the shuffle by qid must
      // move (qid, nid, sim), never the embedding arrays (at 2M x 64 dims
      // that is ~20 GB of payload the rank does not need)
      .select(col("qid"), col("nid"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** Hard-negative mining — for each query vector, the k cosine-NEAREST
    * vectors with a DIFFERENT label: the contrastive-learning data-prep
    * step (the most confusable negatives make the strongest training
    * pairs). Same broadcast brute-force shape as [[bruteForceTopK]] with
    * the label inequality fused into the join condition, so excluded
    * pairs never reach the dot product. Returns (qid, nid, nlabel, rank,
    * sim) — deterministic doubles, oracle-exact.
    */
  def hardNegativesTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    val base = emb.select(col("vec_id"), col("label"), toDouble("embedding").as("vd"))
      .withColumn("nrm", norm(col("vd")))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("vd").as("qv"), col("nrm").as("qnorm"))
    base
      .select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("vd").as("nv"), col("nrm").as("nnorm"))
      .crossJoin(broadcast(q))
      .where(col("qid") =!= col("nid") && col("qlabel") =!= col("nlabel"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
      // scalars only through the rank shuffle (see bruteForceTopK)
      .select(col("qid"), col("nid"), col("nlabel"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("nlabel"), col("rank"), col("sim"))
  }

  /** Salt deriving the deterministic IVF seed sample (any fixed constant). */
  private[ext] val IvfSeedSalt = 2027L

  /** IVF (inverted-file) ANN: corpus vectors are assigned to the
    * cosine-nearest of `nCells` seed centroids; a query probes its
    * `nProbe`-nearest cells and re-ranks exactly inside them. The cell
    * assignment is the partition key — the search is an equi-join on cell
    * id, the classic IVF shape that scales to corpus-sized query sets where
    * the broadcast brute force cannot.
    *
    * Centroids are a DETERMINISTIC pseudo-random sample: the `nCells`
    * vectors with the smallest `graft_mix64(vec_id, salt)` — exactly the
    * random-init seeds a KMeans run would start from, but engine-replicable,
    * so (unlike a fitted model) the whole operator keeps a bit-exact DuckDB
    * oracle. Seed quality only affects recall, never correctness of the
    * exact re-rank. At 100 TB you'd fit refined centroids offline once and
    * feed them through the same two broadcast joins; seed selection here is
    * a distributed TakeOrdered (no global sort, no driver-side model fit
    * inside the query). Cell id = the seed's vec_id. Assignment and probing
    * use the SAME metric, so a query's home cell is always probe rank 1 —
    * no metric-mismatch union needed.
    */
  def ivfTopK(
      emb: DataFrame,
      nCells: Int,
      nProbe: Int,
      nQueries: Int,
      k: Int
  ): DataFrame =
    ivfBody(cellSimilarities(normed(emb), nCells), nProbe, nQueries, k)

  /** Shared probe/re-rank tail of the IVF variants. */
  private def ivfBody(
      cellSims: DataFrame,
      nProbe: Int,
      nQueries: Int,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignCells(cellSims)
    // probe set: the nProbe cosine-nearest cells per query vector
    val probes = cellSims.where(col("vec_id") < nQueries)
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))))
      .where(col("crank") <= nProbe)
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("nrm").as("qnorm"), col("cell"))
    val n = assigned.select(col("vec_id").as("nid"), col("vd").as("nv"),
      col("nrm").as("nnorm"), col("cell"))
    n.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
      // scalars only through the rank shuffle (see bruteForceTopK)
      .select(col("qid"), col("nid"), col("cell"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cell"), col("rank"), col("sim"))
  }

  /** The nCells deterministic seed centroids: the vectors with the
    * smallest graft_mix64(vec_id, salt) — random-init seeds, engine-
    * replicable. (cell, cv, cnrm).
    */
  private[ext] def seedCentroids(base: DataFrame, nCells: Int): DataFrame =
    base
      .withColumn("mix", call_function("graft_mix64", col("vec_id"), lit(IvfSeedSalt)))
      .orderBy(col("mix"), col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell"), col("vd").as("cv"), col("nrm").as("cnrm"))

  /** Every corpus row paired with each centroid of any (cell, cv, cnrm)
    * set and their cosine `csim`. A broadcast nested loop over the
    * centroid rows: each corpus row expands nCells-fold, then collapses in
    * the map-side-combinable argmax of [[assignCells]]; the corpus itself
    * never shuffles wide.
    */
  private[ext] def cellSimilaritiesWith(base: DataFrame, centroids: DataFrame): DataFrame =
    base.crossJoin(broadcast(centroids))
      .withColumn("csim", dot(col("vd"), col("cv")) / (col("nrm") * col("cnrm")))

  private[ext] def cellSimilarities(base: DataFrame, nCells: Int): DataFrame =
    cellSimilaritiesWith(base, seedCentroids(base, nCells))

  /** Lloyd's k-means refinement of the seed centroids — the offline
    * "fit refined centroids once, feed them back through the same joins"
    * step the IVF and SemDeDup scaladocs point at. Each iteration assigns
    * every vector to its cosine-nearest centroid, then replaces each
    * centroid with the element-wise mean of its members; a centroid whose
    * cell empties keeps its previous position (standard empty-cluster
    * handling). Returns (cell, cv, cnrm).
    *
    * The means are ORDER-DETERMINISTIC ([[orderedMeans]]: each (cell, pos)
    * sum is a sequential fold over members in ascending `vec_id` order),
    * so the refined centroids are bit-exact across runs and engines and
    * the whole fit keeps a hash-exact DuckDB oracle (the oracle unrolls the
    * iterations as CTE stages running the same fold via
    * `list(v ORDER BY vec_id)`). The price of exactness is a collect_list
    * per (cell, pos) group — member-count-sized state, so this is the
    * FIT-ON-SAMPLE form (the standard k-means practice: FAISS trains on
    * <=1M sampled vectors; cap the input with a deterministic filter
    * first).
    *
    * Centroid state lives on the DRIVER between iterations — nCells rows of
    * dim doubles, a size fixed by the algorithm's constants at ANY corpus
    * scale (a fitted model artifact, not data; the same bounded-state class
    * as Bpe's merge table). Each iteration is ONE distributed aggregate
    * over the corpus (broadcast literal centroids -> argmax assign ->
    * ordered-fold means) collected back; `cnrm` is the same sequential fold
    * [[graft.cdc.types.DotProduct]] compiles ([[selfDot]]).
    */
  def kmeansRefine(emb: DataFrame, nCells: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    val base = normed(emb).localCheckpoint()
    var centroids: Array[(Long, Array[Double])] =
      seedCentroids(base, nCells).select(col("cell"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def centroidsDf(): DataFrame = localFrame(spark, CentroidSchema,
      centroids.toSeq.map { case (cell, cv) => Row(cell, cv.toSeq, math.sqrt(selfDot(cv))) })
    for (_ <- 0 until iters) {
      val means = orderedMeans(assignCells(cellSimilaritiesWith(base, centroidsDf())),
          Seq("cell"), "vd")
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.map { case (cell, cv) => (cell, means.getOrElse(cell, cv)) }
    }
    centroidsDf()
  }

  /** The Lloyd mean step both fits share: `assigned` rows carry their
    * model keys, `vec_id` and a vector column `v`; per (keys, pos) the
    * members' coordinates are folded in ascending `vec_id` order
    * (`graft_sorted_fold` == the aggregate(array_sort(collect_list)) HOF,
    * GraftExpressionsSpec pin, compiled instead of interpreted) and divided
    * by the member count, then reassembled per key in `pos` order.
    * Returns (keys..., cv).
    */
  private def orderedMeans(assigned: DataFrame, keys: Seq[String], v: String): DataFrame =
    assigned
      .select(keys.map(col) ++ Seq(col("vec_id"), posexplode(col(v))): _*)
      .groupBy(keys.map(col) :+ col("pos"): _*)
      .agg(
        call_function("graft_sorted_fold",
          collect_list(struct(col("vec_id"), col("col")))).as("s"),
        count(lit(1)).as("n"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, s / n))), x -> x.col2)")
        .as("cv"))

  private val CentroidSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("cnrm", DoubleType, nullable = false)))

  private val BookSchema = StructType(Seq(
    StructField("sub", IntegerType, nullable = false),
    StructField("code", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("cvv", DoubleType, nullable = false)))

  /** Driver-side model rows (centroids, codebooks, collected seeds) as a
    * local relation: the values are copied verbatim, so every double
    * downstream of it is unchanged.
    */
  private def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Sequential self-dot — the same fold [[graft.cdc.types.DotProduct]]
    * compiles, run on the driver over a collected centroid/codebook row so
    * recomputed `cnrm`/`cvv` values stay bit-identical to the cluster path.
    */
  private def selfDot(v: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    acc
  }

  /** [[ivfTopK]] against an externally fitted centroid table (cell, cv,
    * cnrm) — e.g. [[kmeansRefine]]'s output — instead of the raw seeds.
    */
  def ivfTopKWith(
      emb: DataFrame,
      centroids: DataFrame,
      nProbe: Int,
      nQueries: Int,
      k: Int
  ): DataFrame =
    ivfBody(cellSimilaritiesWith(normed(emb), centroids), nProbe, nQueries, k)

  /** Assignment: argmax cosine over cells, ties to the smallest cell id.
    * Every input column but the centroid side (cell, cv, cnrm, csim)
    * rides along per vec_id, so a caller controls what the map-side
    * argmax ships by what it projects before the call.
    */
  private[ext] def assignCells(cellSims: DataFrame): DataFrame = {
    val carried = cellSims.columns.toSeq
      .filterNot(Set("vec_id", "cell", "cv", "cnrm", "csim"))
    cellSims
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("csim"), -col("cell"))).as("cell"),
        carried.map(c => first(col(c)).as(c)): _*)
  }

  /** CDC-maintained IVF index: posting-list deltas under the embeddings
    * table's OWN row-image changelog — the engine's two halves fused the
    * way a production vector store runs them. The index is built once over
    * the snapshot (seed centroids frozen at build time — cell geometry must
    * NOT drift as rows churn, or every maintenance step re-shuffles the
    * whole index), then the log phase maintains it: a re-embedded document
    * (op `u` carrying the new vector) MOVES between cells, a delete
    * retracts its posting, a brand-new document inserts one. Emits only the
    * AFFECTED postings — `(vec_id, cell_before, cell_after, change)` with
    * change in insert/move/delete; an update whose new vector lands in the
    * same cell is a maintenance no-op and is suppressed, which is the whole
    * point of incremental index upkeep.
    *
    * Inputs: `snapshot` = (vec_id, vd) at index build; `log` = (offset,
    * vec_id, op, vd) row-image frames after the snapshot watermark (op
    * `c`/`u`/`d`; `d` frames' vd is ignored). Last writer per vec_id wins
    * by offset — the same fold the row-image sinks run.
    *
    * Shape at 100 TB: vectors cross exactly TWO map-side-combinable
    * shuffles (the LWW fold and the full-outer snapshot⊕log merge — the
    * unavoidable CDC joins, both keyed vec_id); both cell assignments are a
    * broadcast nested loop over nCells centroid rows collapsed by a
    * map-side argmax that ships only (vec_id, cell) scalars, and the delta
    * join carries scalars too. The corpus never shuffles for the index
    * itself.
    */
  def cdcIndexDeltas(snapshot: DataFrame, log: DataFrame, nCells: Int): DataFrame = {
    graft.cdc.types.GraftFunctions.register(snapshot.sparkSession)
    val base = snapshot.select(col("vec_id"), col("vd"))
      .withColumn("nrm", norm(col("vd")))
    val cents = seedCentroids(base, nCells)
    // vd/nrm dropped after the cosine: the argmax ships (vec_id, cell) only
    def assign(df: DataFrame): DataFrame =
      assignCells(cellSimilaritiesWith(df, cents).drop("vd", "nrm"))
    val folded = log.groupBy(col("vec_id"))
      .agg(max_by(struct(col("op"), col("vd")), col("offset")).as("w"))
    val live = snapshot.select(col("vec_id"), col("vd"))
      .join(folded, Seq("vec_id"), "full_outer")
      .where(col("w").isNull || col("w.op") =!= lit("d"))
      .select(col("vec_id"), coalesce(col("w.vd"), col("vd")).as("vd"))
      .withColumn("nrm", norm(col("vd")))
    val before = assign(base).select(col("vec_id"), col("cell").as("cell_before"))
    val after = assign(live).select(col("vec_id"), col("cell").as("cell_after"))
    before.join(after, Seq("vec_id"), "full_outer")
      .withColumn("change",
        when(col("cell_before").isNull, lit("insert"))
          .when(col("cell_after").isNull, lit("delete"))
          .when(col("cell_after") =!= col("cell_before"), lit("move")))
      .where(col("change").isNotNull)
      .select(col("vec_id"), col("cell_before"), col("cell_after"), col("change"))
  }

  /** Salt deriving the deterministic PQ seed sample. */
  private[ext] val PqSeedSalt = 4099L

  /** (vec_id, sub, sv, svv): each UNIT vector cut into `m` equal
    * subvectors (sub = 0..m-1), plus the subvector's self-dot — the only
    * per-row quantity ADC distance ranking needs besides cross dots.
    * Normalizing first makes L2 on subvector concatenations monotone in
    * cosine (|a-b|^2 = 2 - 2cos for unit vectors), so PQ ranks agree with
    * the rest of this file's cosine world. `size(vd)` must be divisible by
    * `m` (64-dim embeddings, m in {2,4,8,16,32}); slice drops a remainder
    * silently, so callers get the standard FAISS constraint.
    */
  private[ext] def subVectors(base: DataFrame, m: Int): DataFrame =
    base
      .select(col("vec_id"),
        expr("transform(vd, x -> x / nrm)").as("ud"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        expr(s"slice(ud, CAST(sub * (size(ud) div $m) + 1 AS INT), CAST(size(ud) div $m AS INT))")
          .as("sv"))
      .withColumn("svv", dot(col("sv"), col("sv")))

  /** Initial per-subspace codebooks: the `k` corpus vectors with the
    * smallest graft_mix64(vec_id, salt) seed ALL `m` subspaces (their
    * respective slices), code id = the seed's vec_id — engine-replicable
    * random init, same scheme as [[seedCentroids]]. A production encoder
    * would densify code ids to 0..k-1 for log2(k)-bit storage; keeping the
    * seed id changes nothing in the algebra. Returns (sub, code, cv, cvv).
    */
  private[ext] def seedBooks(subs: DataFrame, k: Int): DataFrame = {
    val seedIds = subs.select(col("vec_id")).distinct()
      .withColumn("mix", call_function("graft_mix64", col("vec_id"), lit(PqSeedSalt)))
      .orderBy(col("mix"), col("vec_id")).limit(k)
      .select(col("vec_id"))
    subs.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("sub"), col("vec_id").as("code"), col("sv").as("cv"),
        col("svv").as("cvv"))
  }

  /** Assign every (vec_id, sub) to its L2-nearest code of that subspace.
    * |sv - cv|^2 = svv + cvv - 2 sv.cv, and svv is constant per row, so
    * the argmin ranks by (cvv - 2 sv.cv), ties to the smallest code id.
    * The codebooks are driver literals, so this is the FAISS-encode shape
    * at 100 TB: every subvector row computes its argmin in ONE codegen'd
    * `graft_pq_argmin` loop ([[graft.cdc.types.PqArgmin]]); the corpus
    * neither joins nor shuffles. Returns (vec_id, sub, code); `keepSv`
    * additionally carries the subvector (for the fit's mean step; the
    * encode path never pays the array payload).
    */
  private[ext] def assignCodes(
      subs: DataFrame,
      books: PqBooksLit,
      keepSv: Boolean = false
  ): DataFrame = {
    graft.cdc.types.GraftFunctions.register(subs.sparkSession)
    val codeCol = call_function("graft_pq_argmin", col("sub"), col("sv"),
      typedlit(books.codes.toSeq), typedlit(books.cvs.toSeq),
      typedlit(books.cvvs.toSeq))
    val cols = Seq(col("vec_id"), col("sub"), codeCol.as("code"))
    subs.select((if (keepSv) cols :+ col("sv") else cols): _*)
  }

  /** Product-quantization codebook fit — per-subspace Lloyd's k-means, all
    * `m` subspaces trained in ONE aggregate per iteration (sub is just
    * another group key): literal-codebook argmin assignment, then the
    * order-deterministic [[orderedMeans]] per (sub, code) — the same
    * vec_id-ordered fold as [[kmeansRefine]], so the fitted codebooks are
    * bit-exact and the PQ search pipeline is hash-oracle-able end-to-end.
    * Fit-on-sample form (collect_list state per group is member-count-
    * sized). Empty codes keep their previous centroid.
    *
    * The m x k codebook rows live on the DRIVER between iterations
    * (algorithm-constant size — a model artifact), and the fit returns
    * them as the [[PqBooksLit]] that `graft_pq_argmin` takes; `cvv` is the
    * same sequential [[graft.cdc.types.DotProduct]] fold ([[selfDot]]).
    */
  def pqCodebooks(emb: DataFrame, m: Int, k: Int, iters: Int): PqBooksLit = {
    val subs = subVectors(normed(emb), m).localCheckpoint()
    var books: Map[(Int, Long), Array[Double]] =
      seedBooks(subs, k).select(col("sub"), col("code"), col("cv")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray).toMap
    for (_ <- 0 until iters) {
      val means = orderedMeans(assignCodes(subs, booksLit(books), keepSv = true),
          Seq("sub", "code"), "sv")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray).toMap
      books = books.map { case (key, cv) => key -> means.getOrElse(key, cv) }
    }
    booksLit(books)
  }

  /** (sub, code) -> centroid rows flattened into [[PqBooksLit]]'s layout:
    * codes ascending, sub-major, code-major, dim-minor. Every subspace
    * shares the seed code ids ([[seedBooks]]), which the layout requires.
    */
  private def booksLit(books: Map[(Int, Long), Array[Double]]): PqBooksLit = {
    val codes = books.keys.map(_._2).toArray.distinct.sorted
    val m = books.keys.map(_._1).max + 1
    val cvs = for (s <- 0 until m; c <- codes.toSeq) yield books((s, c))
    PqBooksLit(codes, cvs.flatten.toArray, cvs.map(selfDot).toArray)
  }

  /** The codebooks as a (sub, code, cv, cvv) local relation — the side the
    * ADC lookup table joins.
    */
  private def booksFrame(spark: SparkSession, books: PqBooksLit): DataFrame =
    localFrame(spark, BookSchema,
      for (s <- 0 until books.m; j <- 0 until books.kEff) yield {
        val c = s * books.kEff + j
        Row(s, books.codes(j),
          books.cvs.slice(c * books.dsub, (c + 1) * books.dsub).toSeq, books.cvvs(c))
      })

  /** The query x codebook ADC lookup table: (sub, code, qid, pdist) with
    * pdist = |sv - cv|^2 for every query subvector against every code of
    * its subspace — nQueries x m x k scalar rows, broadcast by its users.
    */
  private def adcLut(subs: DataFrame, books: PqBooksLit, nQueries: Int): DataFrame =
    subs.where(col("vec_id") < nQueries)
      .join(broadcast(booksFrame(subs.sparkSession, books)), Seq("sub"))
      .select(col("sub"), col("code"), col("vec_id").as("qid"),
        (col("svv") + col("cvv") - lit(2.0) * dot(col("sv"), col("cv"))).as("pdist"))

  /** PQ-encode the corpus: (vec_id, sub, code) — `m` small integers per
    * vector in place of the raw floats. At 64 dims x 4 bytes -> m bytes
    * (after dense re-indexing), the 32-64x compression that lets a 100 TB
    * corpus' ANN index live in executor memory.
    */
  def pqEncode(emb: DataFrame, books: PqBooksLit): DataFrame =
    assignCodes(subVectors(normed(emb), books.m), books)

  /** The ADC distance: per-(qid, nid) sum of the m per-subspace partial
    * distances, as a sub-ordered sequential fold so the double result is
    * independent of shuffle arrival order (bit-deterministic).
    */
  private val adcFold: Column =
    call_function("graft_sorted_fold",
      collect_list(struct(col("sub"), col("pdist")))).as("adc")

  /** Asymmetric-distance (ADC) top-k: exact query subvectors against the
    * corpus' PQ codes. The query x codebook lookup table ([[adcLut]])
    * broadcasts; the corpus side joins it by its stored (sub, code) pair
    * and a map-side-combinable sum over the m subspaces rebuilds the full
    * approximate distance. No corpus vector is touched after encoding —
    * the whole search runs on codes, the property that makes PQ the 100 TB
    * memory-budget play (FAISS IVFADC without the IVF gate;
    * [[ivfPqTopKWith]] adds one).
    *
    * Returns (qid, nid, rank, adc) ranked by ascending approximate L2^2
    * on unit vectors (monotone in cosine), ties to the smaller nid.
    */
  def pqAdcTopK(
      emb: DataFrame,
      books: PqBooksLit,
      nQueries: Int,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subs = subVectors(normed(emb), books.m)
    val codes = assignCodes(subs, books)
    val lut = adcLut(subs, books, nQueries)
    codes
      .join(broadcast(lut), Seq("sub", "code"))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      // sub-ordered sequential fold, not sum(): m doubles per group arrive
      // in shuffle order, and an order-dependent adc would make shortlist
      // membership (hence the oracle hash) flutter at rank boundaries
      .agg(adcFold)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("adc"))
  }

  /** The production PQ search: ADC shortlist of `shortlist` candidates per
    * query, then EXACT cosine re-rank of just those — the FAISS
    * ADC+refine pipeline. Quantization noise only costs recall if a true
    * neighbor misses the whole shortlist; the reported ranks and sims are
    * exact cosine, so results are directly comparable to
    * [[bruteForceTopK]]. The re-rank joins raw vectors for only
    * nQueries x shortlist rows (equi-join on nid against the corpus —
    * the corpus shuffles scalars, candidate ids, never its vectors; the
    * shortlist side is broadcast). Returns (qid, nid, rank, sim).
    */
  def pqSearchTopK(
      emb: DataFrame,
      books: PqBooksLit,
      nQueries: Int,
      k: Int,
      shortlist: Int
  ): DataFrame =
    exactRerank(normed(emb),
      pqAdcTopK(emb, books, nQueries, shortlist).select(col("qid"), col("nid")),
      nQueries, k)

  /** Exact-cosine re-rank of a (qid, nid) candidate shortlist: the corpus
    * shuffles only candidate ids (both shortlist and query sides
    * broadcast), sims are bit-exact [[bruteForceTopK]] values. Returns
    * (qid, nid, rank, sim).
    */
  private def exactRerank(
      base: DataFrame,
      cands: DataFrame,
      nQueries: Int,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"), col("nrm").as("qnorm"))
    base
      .select(col("vec_id").as("nid"), col("vd").as("nv"), col("nrm").as("nnorm"))
      .join(broadcast(cands), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
      .select(col("qid"), col("nid"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"), col("sim"))
  }

  /** IVF-PQ — the full FAISS IVFADC pipeline, composed from the two
    * indexes this file already builds, against fitted codebooks (e.g.
    * [[pqCodebooks]]'s output): the IVF cell gate restricts each query's
    * ADC scan to its `nProbe` probed cells (1/nCells of the corpus per
    * probe instead of all of it), the scan itself runs on PQ codes alone,
    * and the survivors re-rank exactly. At 100 TB this is the shape that
    * bounds BOTH compute (probed cells only) and memory (codes only): cell
    * ids and codes are small integers, the raw vectors are touched for
    * nQueries x shortlist rows at the very end.
    *
    * The cell gate joins the code table to the (vec_id, cell) assignment
    * — a corpus-sized scalar equi-join — then filters by the broadcast
    * (qid, cell) probe set, so a vector in no probed cell never reaches
    * the LUT join. Cells use the deterministic seed centroids (pass
    * refined ones through [[kmeansRefine]]-style fits offline if recall
    * needs them). Returns (qid, nid, rank, sim) with exact cosine sims.
    */
  def ivfPqTopKWith(
      emb: DataFrame,
      nCells: Int,
      nProbe: Int,
      books: PqBooksLit,
      nQueries: Int,
      k: Int,
      shortlist: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normed(emb)
    // the seed centroids (nCells rows) collected once to a literal relation:
    // cellSims feeds TWO subtrees below (corpus assignment + query probes),
    // and each would otherwise re-run the TakeOrdered seed job — same
    // bounded driver-state shape as the fits' model rows
    val seeds = seedCentroids(base, nCells)
    val cellSims = cellSimilaritiesWith(base,
      localFrame(base.sparkSession, seeds.schema, seeds.collect().toSeq))
    val assigned = assignCells(cellSims).select(col("vec_id"), col("cell"))
    val probes = cellSims.where(col("vec_id") < nQueries)
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))))
      .where(col("crank") <= nProbe)
      .select(col("vec_id").as("qid"), col("cell"))
    val subs = subVectors(base, books.m)
    val codes = assignCodes(subs, books)
    val lut = adcLut(subs, books, nQueries)
    val cands = codes
      .join(assigned, Seq("vec_id"))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("sub", "code", "qid"))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(adcFold) // sub-ordered fold — see pqAdcTopK
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("nid"))))
      .where(col("arank") <= shortlist)
      .select(col("qid"), col("nid"))
    exactRerank(base, cands, nQueries, k)
  }

  /** Random-hyperplane LSH bucketing: `nPlanes` sign bits per vector
    * (hyperplane components are deterministic ±1 from graft_mix64 parity),
    * bucket = packed bits. Candidates are same-bucket pairs — a shuffle by
    * bucket key, never a cross join. Exact cosine re-ranks within buckets.
    */
  def lshTopK(emb: DataFrame, nPlanes: Int, nQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    // sequence is sized from the vector itself — a fixed length would null-
    // pad zip_with for other dimensions and collapse every vector into
    // bucket 0. Hyperplane component signs come from the engine-replicable
    // graft_mix64 parity (not Spark murmur) so the operator keeps a DuckDB
    // oracle. Stays a HOF (not graft_dot against a constant plane) because
    // the plane adapts to each vector's dimension.
    val bit = (j: Int) =>
      when(expr(
        s"""aggregate(zip_with(vd, sequence(0, size(vd) - 1),
           |  (x, i) -> x * CASE WHEN (graft_mix64(i, ${j}L) & 1L) = 0L THEN 1D ELSE -1D END),
           |  0D, (acc, z) -> acc + z)""".stripMargin) > 0, lit(1L << j)).otherwise(lit(0L))
    val bucketCol = (0 until nPlanes).map(bit).reduce((a, b) => a.bitwiseOR(b))
    val bucketed = normed(emb).select(col("vec_id"), col("vd"), col("nrm"))
      .withColumn("bucket", bucketCol)
    val q = bucketed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("vd").as("qv"),
        col("bucket"), col("nrm").as("qnorm"))
    val n = bucketed.select(col("vec_id").as("nid"), col("vd").as("nv"),
      col("bucket"), col("nrm").as("nnorm"))
    n.join(broadcast(q), Seq("bucket"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", dot(col("qv"), col("nv")) / (col("qnorm") * col("nnorm")))
      // scalars only through the rank shuffle (see bruteForceTopK)
      .select(col("qid"), col("nid"), col("bucket"), col("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("bucket"), col("rank"), col("sim"))
  }

  /** In-engine ANN quality evaluation: recall@k of the IVF index against
    * the exhaustive ground truth, per query — the metric an index-tuning
    * loop (nCells/nProbe sweeps) actually optimizes, computed without
    * leaving the engine. Composes the two existing scale-shaped pipelines;
    * the intersection join and per-query counts carry only (qid, nid)
    * scalars, so the eval costs no more than the searches themselves.
    * `nProbe == nCells` degenerates to exhaustive search and must yield
    * recall 1.0 exactly (asserted in ExtOpsSpec).
    */
  def recallEval(emb: DataFrame, nCells: Int, nProbe: Int, nQueries: Int,
      k: Int): DataFrame = {
    val bf = bruteForceTopK(emb, nQueries, k).select("qid", "nid")
    val ap = ivfTopK(emb, nCells, nProbe, nQueries, k).select("qid", "nid")
    val hits = bf.join(ap, Seq("qid", "nid"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    bf.select("qid").distinct()
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k).as("k"),
        (coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** Signed random projection (Achlioptas 2003 ±1 JL transform):
    * out_j = Σ_i s(j,i)·v_i with s(j,i) = ±1 from the sign bit of
    * mix64(j·4096 + i, seed) — the projection "matrix" is never stored,
    * each cell regenerates from the hash in compiled code, so the operator
    * ships only a seed. Entirely in-row (one explode per output dim, the
    * fold over input dims inside the lambda), row-parallel at any corpus
    * size. Sign flips and the sequential sum are exact/order-pinned
    * doubles, so the oracle replays the fold bit-for-bit (the dotSql
    * contract). Use: cut ANN pre-filter cost 4× (64→16 dims) while
    * preserving neighborhoods within JL distortion — ExtOpsSpec checks
    * projected cosine tracks the original on real embeddings.
    */
  def randomProjection(emb: DataFrame, outDim: Int = 16,
      seed: Long = 7L): DataFrame = {
    require(outDim >= 1 && outDim <= 4096, s"outDim in [1,4096], got $outDim")
    graft.cdc.types.GraftFunctions.register(emb.sparkSession)
    // the whole outDim x dim sign-fold runs in the native graft_jl_project
    // expression (one compiled loop; [[jlProject]]) — the transform/
    // aggregate HOF formulation it replaces evaluated ~dim lambda frames
    // per output coordinate outside whole-stage codegen. Same mix64 sign
    // matrix, same i-ascending double fold, so every coordinate still
    // hash-matches the DuckDB replay.
    emb.select(col("vec_id"), posexplode(call_function("graft_jl_project",
        col("embedding"), lit(outDim), lit(seed))))
      .select(col("vec_id"), col("pos").cast("long").as("j"),
        col("col").as("value"))
  }

  /** Runtime of `graft_jl_project`: signed (±1) JL projection of one
    * float vector to `outDim` doubles; sign(j,i) from mix64(j*4096+i,
    * seed) exactly like the HOF form, terms added in ascending i (the
    * order the oracle replays). A null element poisons that coordinate to
    * NULL, mirroring SQL `acc + NULL`.
    */
  def jlProject(emb: org.apache.spark.sql.catalyst.util.ArrayData,
      outDim: Int, seed: Long): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = emb.numElements()
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var poisoned = false
      var i = 0
      while (i < n) {
        if (emb.isNullAt(i)) poisoned = true
        else {
          val v = emb.getFloat(i).toDouble
          acc += (if (Hashing.mix64(j.toLong * 4096L + i, seed) < 0) -v else v)
        }
        i += 1
      }
      out(j) = if (poisoned) null else acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
