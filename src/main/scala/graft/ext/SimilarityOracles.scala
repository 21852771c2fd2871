package graft.ext

/** Generated DuckDB oracles for the deterministic-fit ANN pipelines:
  * `similarity_kmeans_ivf`, `similarity_pq_search`, `similarity_ivfpq_search`.
  *
  * These replicate, double-op for double-op, the order-deterministic fits
  * ([[Similarity.kmeansRefine]] / [[Similarity.pqCodebooks]]) and
  * their search tails: every cross-row sum is a sequential fold in a total
  * order (vec_id for fit means, sub for ADC), so both engines run the same
  * IEEE double sequence and the driver's hash compare is exact (validated:
  * 50/50 bit-exact rows per query at sf0.01 before transplanting here).
  *
  * Structure notes:
  *  - iterations are UNROLLED as CTE stages (Lloyd's loop is not one SQL
  *    statement, but a FIXED iteration count is);
  *  - `AS MATERIALIZED` on every stage output read more than once —
  *    default inlining would double the plan per stage;
  *  - `QUALIFY row_number() = 1` is the argmax/argmin with the same total
  *    tie-break as the Spark side's max_by struct ordering (cells) and
  *    graft_pq_argmin's (pd, code) minimum (codes).
  */
private[ext] object SimilarityOracles {

  import ExtQueries.{mixChainSql, toSignedSql}

  /** Sequential dot product of two DOUBLE lists (same fold as graft_dot). */
  private def dotD(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len($a)+1), di -> $a[di] * $b[di])),
       |      (acc, z) -> acc + z)""".stripMargin

  /** Sequential left fold (seed 0.0) over a DOUBLE list expression. */
  private def fold(l: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, $l), (fa, fb) -> fa + fb)"

  /** (vec_id, vd DOUBLE[], nrm) — embeddings widened once, like normed(). */
  private val eBase: String =
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd,
       |    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (acc, z) -> acc + z)) AS nrm
       |  FROM embeddings)""".stripMargin

  /** The deterministic seed sample: `n` rows with the smallest
    * (graft_mix64(vec_id, salt), vec_id) — as (cell, cv, cnrm).
    */
  private def seedCentSql(n: Int, salt: Long, name: String): String =
    s"""cmx0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu, ${salt}::UBIGINT AS iu FROM e),
       |cmxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix FROM ${mixChainSql("cmx0", "vec_id")}),
       |$name AS MATERIALIZED (SELECT e.vec_id AS cell, e.vd AS cv, e.nrm AS cnrm
       |        FROM cmxs JOIN e ON cmxs.vec_id = e.vec_id
       |        ORDER BY cmxs.mix, e.vec_id LIMIT $n)""".stripMargin

  /** One Lloyd iteration: assign to argmax-cosine cell, then replace each
    * centroid with the vec_id-ordered-fold mean of its members (empty
    * cells keep their previous position via the LEFT JOIN coalesce).
    */
  private def kmeansIter(i: Int): String =
    s"""cs$i AS (SELECT e.vec_id, e.vd, e.nrm, c.cell,
       |         ${dotD("e.vd", "c.cv")} / (e.nrm * c.cnrm) AS csim
       |       FROM e CROSS JOIN cent$i c),
       |asg$i AS (SELECT vec_id, vd, cell FROM cs$i
       |          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) = 1),
       |px$i AS (SELECT cell, vec_id, vd, unnest(range(0, len(vd))) AS pos FROM asg$i),
       |m$i AS (SELECT cell, pos,
       |           ${fold("list(vd[pos + 1] ORDER BY vec_id)")} AS s,
       |           count(*) AS n
       |         FROM px$i GROUP BY cell, pos),
       |nm$i AS (SELECT cell, list(s / n ORDER BY pos) AS cv FROM m$i GROUP BY cell),
       |nm2_$i AS (SELECT cell, cv, sqrt(${fold("list_transform(cv, x -> x * x)")}) AS cnrm FROM nm$i),
       |cent${i + 1} AS MATERIALIZED (SELECT c.cell, coalesce(n.cv, c.cv) AS cv,
       |            coalesce(n.cnrm, c.cnrm) AS cnrm
       |          FROM cent$i c LEFT JOIN nm2_$i n USING (cell))""".stripMargin

  /** The PQ base: unit vectors cut into `m` subvector slices (+ self-dot),
    * and the 64-seed initial codebooks from the PqSeedSalt sample.
    */
  private def pqBase(m: Int, k: Int): String =
    s"""u AS (SELECT vec_id, list_transform(vd, x -> x / nrm) AS ud FROM e),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, sub,
       |    list_slice(ud, sub * (len(ud) // $m) + 1, sub * (len(ud) // $m) + len(ud) // $m) AS sv
       |  FROM u CROSS JOIN range($m) t(sub)),
       |subsv AS (SELECT vec_id, sub, sv, ${fold("list_transform(sv, x -> x * x)")} AS svv FROM subs),
       |mx1 AS (SELECT DISTINCT vec_id FROM subs),
       |mx2 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS hu, ${Similarity.PqSeedSalt}::UBIGINT AS iu FROM mx1),
       |mxs AS (SELECT vec_id, ${toSignedSql("zf")} AS mix FROM ${mixChainSql("mx2", "vec_id")}),
       |seedids AS (SELECT vec_id FROM mxs ORDER BY mix, vec_id LIMIT $k),
       |books0 AS MATERIALIZED (
       |  SELECT s.sub, s.vec_id AS code, s.sv AS cv, s.svv AS cvv
       |  FROM subsv s JOIN seedids USING (vec_id))""".stripMargin

  /** One per-subspace Lloyd iteration over the codebooks (sub is just
    * another group key — all m subspaces train in the same stage).
    */
  private def pqIter(i: Int): String =
    s"""pa$i AS (SELECT s.vec_id, s.sub, s.sv, b.code,
       |           b.cvv - 2.0 * ${dotD("s.sv", "b.cv")} AS pd
       |         FROM subs s JOIN books$i b USING (sub)),
       |pasg$i AS (SELECT vec_id, sub, sv, code FROM pa$i
       |           QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY pd, code) = 1),
       |ppx$i AS (SELECT sub, code, vec_id, sv, unnest(range(0, len(sv))) AS pos FROM pasg$i),
       |pm$i AS (SELECT sub, code, pos, ${fold("list(sv[pos + 1] ORDER BY vec_id)")} AS s, count(*) AS n
       |         FROM ppx$i GROUP BY sub, code, pos),
       |pnm$i AS (SELECT sub, code, list(s / n ORDER BY pos) AS cv FROM pm$i GROUP BY sub, code),
       |books${i + 1} AS MATERIALIZED (
       |  SELECT b.sub, b.code, coalesce(n.cv, b.cv) AS cv,
       |         ${dotD("coalesce(n.cv, b.cv)", "coalesce(n.cv, b.cv)")} AS cvv
       |  FROM books$i b LEFT JOIN pnm$i n ON b.sub = n.sub AND b.code = n.code)""".stripMargin

  /** Encode + LUT against the final books (stage index `it`). */
  private def pqSearchHead(it: Int, nQueries: Int): String =
    s"""codes AS (SELECT s.vec_id, s.sub, b.code FROM subs s JOIN books$it b USING (sub)
       |          QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.sub
       |            ORDER BY b.cvv - 2.0 * ${dotD("s.sv", "b.cv")}, b.code) = 1),
       |lut AS (SELECT s.sub, b.code, s.vec_id AS qid,
       |          s.svv + b.cvv - 2.0 * ${dotD("s.sv", "b.cv")} AS pdist
       |        FROM subsv s JOIN books$it b USING (sub) WHERE s.vec_id < $nQueries)""".stripMargin

  /** ADC shortlist -> exact-cosine re-rank tail (returns qid,nid,rank,sim). */
  private def rerankTail(shortlist: Int, k: Int): String =
    s"""short AS (SELECT qid, nid FROM adc
       |          QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid) <= $shortlist),
       |rr AS (SELECT s.qid, s.nid,
       |         ${dotD("q.vd", "n.vd")} / (q.nrm * n.nrm) AS sim
       |       FROM short s JOIN e n ON s.nid = n.vec_id JOIN e q ON s.qid = q.vec_id),
       |r AS (SELECT qid, nid, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |      FROM rr)
       |SELECT qid, nid, rank, sim FROM r WHERE rank <= $k""".stripMargin

  /** kmeansRefine(8 cells, 2 iters) -> ivfTopKWith(probe 3, 10 queries,
    * top 5) — fit and search both replayed.
    */
  val kmeansIvf: String =
    s"""WITH $eBase,
       |${seedCentSql(8, Similarity.IvfSeedSalt, "cent0")},
       |${kmeansIter(0)},
       |${kmeansIter(1)},
       |csf AS (SELECT e.vec_id, e.vd, e.nrm, c.cell,
       |         ${dotD("e.vd", "c.cv")} / (e.nrm * c.cnrm) AS csim
       |       FROM e CROSS JOIN cent2 c),
       |assign AS (SELECT vec_id, vd, nrm, cell FROM csf
       |           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) = 1),
       |probes AS (SELECT vec_id AS qid, vd AS qv, nrm AS qnorm, cell FROM (
       |             SELECT vec_id, vd, nrm, cell,
       |               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |             FROM csf WHERE vec_id < 10) WHERE rn <= 3),
       |cand AS (SELECT p.qid, n.vec_id AS nid, p.cell,
       |           ${dotD("p.qv", "n.vd")} / (p.qnorm * n.nrm) AS sim
       |         FROM probes p JOIN assign n ON p.cell = n.cell
       |         WHERE p.qid <> n.vec_id),
       |r AS (SELECT qid, nid, cell, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
       |      FROM cand)
       |SELECT qid, nid, cell, rank, sim FROM r WHERE rank <= 5""".stripMargin

  /** pqCodebooks(m=8, k=64, 2 iters) -> encode -> ADC shortlist(100)
    * -> exact re-rank top-5 for 10 queries.
    */
  val pqSearch: String =
    s"""WITH $eBase,
       |${pqBase(8, 64)},
       |${pqIter(0)},
       |${pqIter(1)},
       |${pqSearchHead(2, 10)},
       |adc AS (SELECT l.qid, c.vec_id AS nid,
       |          ${fold("list(l.pdist ORDER BY l.sub)")} AS adc
       |        FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
       |        WHERE l.qid <> c.vec_id
       |        GROUP BY l.qid, c.vec_id),
       |${rerankTail(100, 5)}""".stripMargin

  /** The IVFADC composition: seed-cell gate (8 cells, probe 3) over the
    * exact-fit PQ codes, then the same shortlist + re-rank tail.
    */
  val ivfPqSearch: String =
    s"""WITH $eBase,
       |${seedCentSql(8, Similarity.IvfSeedSalt, "cent")},
       |cs AS (SELECT e.vec_id, c.cell,
       |         ${dotD("e.vd", "c.cv")} / (e.nrm * c.cnrm) AS csim
       |       FROM e CROSS JOIN cent c),
       |assigned AS (SELECT vec_id, cell FROM cs
       |             QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) = 1),
       |probes AS (SELECT vec_id AS qid, cell FROM (
       |             SELECT vec_id, cell,
       |               row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |             FROM cs WHERE vec_id < 10) WHERE rn <= 3),
       |${pqBase(8, 64)},
       |${pqIter(0)},
       |${pqIter(1)},
       |${pqSearchHead(2, 10)},
       |adc AS (SELECT l.qid, c.vec_id AS nid,
       |          ${fold("list(l.pdist ORDER BY l.sub)")} AS adc
       |        FROM codes c
       |        JOIN assigned a ON c.vec_id = a.vec_id
       |        JOIN probes p ON a.cell = p.cell
       |        JOIN lut l ON c.sub = l.sub AND c.code = l.code AND p.qid = l.qid
       |        WHERE l.qid <> c.vec_id
       |        GROUP BY l.qid, c.vec_id),
       |${rerankTail(100, 5)}""".stripMargin
}
