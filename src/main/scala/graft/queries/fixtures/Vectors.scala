package graft.queries.fixtures

import graft.functions.PortableHash
import graft.similarity.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector fixtures: the ANN, IVF and IVF-PQ parameters shared by
  * engine calls and oracle SQL, and the list-arithmetic SQL helpers.
  */
object Vectors {

  /** ±1 hyperplanes shared by the q41 engine plan and its oracle SQL. */
  private[queries] val AnnBits = 8
  private[queries] val annPlanes = Similarity.hyperplanes(AnnBits, 64, signsOnly = true)

  /** q42 IVF parameters shared by the engine call and the oracle SQL
    * (and by q95's semantic-dedup replay).
    */
  private[queries] val IvfC = 16
  private[queries] val IvfIters = 2

  private[queries] val dotSql = (a: String, b: String) =>
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]), (x,y) -> x+y)"

  private[queries] def planeListSql(p: Array[Double]): String =
    p.map(v => if (v > 0) "1.0" else "-1.0").mkString("([", ",", "]::DOUBLE[])")

  /** L2 ranking key `-2·(v·cent) + |cent|²` — the same op sequence as
    * [[Similarity.nearestCentroids]] (|v|² is row-constant, dropped).
    */
  private[queries] def distSql(v: String, cent: String): String =
    s"-2.0 * ${dotSql(v, cent)} + ${dotSql(cent, cent)}"

  /** One Lloyd iteration as CTE text: assign every quantized vector to
    * its nearest `c$prev` centroid (ties → lower cluster id), then the
    * per-dimension mean as EXACT integer sum / count, both converted to
    * double (correctly rounded in every IEEE engine); empty clusters
    * keep their previous centroid. Mirrors
    * [[Similarity.ivfCentroidsPortable]] step for step.
    */
  private[queries] def ivfStepSql(i: Int): String =
    s"""a$i AS (SELECT vec_id, qd, cluster FROM (
       |  SELECT z.vec_id, z.qd, c.cluster,
       |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
       |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
       |  FROM qz z CROSS JOIN c${i - 1} c) WHERE rn = 1),
       |m$i AS (SELECT cluster, ii.p AS pos,
       |    CAST(SUM(CAST(qd[ii.p] AS BIGINT)) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM a$i CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS p) ii
       |  GROUP BY cluster, ii.p),
       |c$i AS (SELECT p.cluster, COALESCE(u.cent, p.cent) AS cent
       |  FROM c${i - 1} p LEFT JOIN (SELECT cluster, list(m ORDER BY pos) AS cent
       |                              FROM m$i GROUP BY cluster) u
       |    ON p.cluster = u.cluster)""".stripMargin

  /** IVF-PQ parameters (q92, q136) shared by engine calls and oracle
    * SQL.
    */
  private[queries] val PqC = 16
  private[queries] val PqM = 8
  private[queries] val PqSub = 64 / PqM
  private[queries] val PqProbe = 4
  private[queries] val PqK = 256

  private def sliceSql(l: String, j: String): String =
    s"$l[$j*$PqSub+1 : $j*$PqSub+$PqSub]"

  /** One per-subspace Lloyd round over the whole corpus: assign each
    * vector's j-th subvector to its nearest `cw{t-1}` codeword, sum the
    * assigned components, and update each codeword component to the
    * shifted round-half-up integer mean
    * `(2*(s + 127n) + n) // (2n) - 127` (all terms nonnegative, so
    * DuckDB's floor `//` matches the engine's truncating Long division);
    * empty codes keep their previous codeword. Mirrors
    * [[graft.similarity.Similarity.IvfPqIndex.buildFromQuantized]].
    */
  private def pqTrainSql(t: Int): String = {
    val prev = s"cw${t - 1}"
    s"""qa$t AS (SELECT vec_id, j, code FROM (
       |  SELECT z.vec_id, w.j, w.code,
       |    ROW_NUMBER() OVER (PARTITION BY z.vec_id, w.j
       |      ORDER BY ${distSql(sliceSql("z.qd", "w.j"), "w.w")} ASC,
       |        w.code ASC) AS rn
       |  FROM qz z CROSS JOIN $prev w) WHERE rn = 1),
       |qs$t AS (SELECT a.j, a.code, p.pos,
       |    CAST(SUM(z.qd[a.j*$PqSub + p.pos]) AS BIGINT) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM qa$t a JOIN qz z USING (vec_id) CROSS JOIN ps p
       |  GROUP BY a.j, a.code, p.pos),
       |cw$t AS (SELECT w.j, w.code,
       |    list(CASE WHEN s.n IS NULL THEN w.w[p.pos]
       |         ELSE CAST((2*(s.s + 127*s.n) + s.n) // (2*s.n) - 127
       |              AS DOUBLE) END
       |         ORDER BY p.pos) AS w
       |  FROM $prev w CROSS JOIN ps p
       |  LEFT JOIN qs$t s ON s.j = w.j AND s.code = w.code AND s.pos = p.pos
       |  GROUP BY w.j, w.code)""".stripMargin
  }

  /** q92's full IVF-PQ training + ADC-scoring pipeline as a CTE
    * chain ending at `adc` (q_id, n_id, nq, s, nc) — shared VERBATIM
    * by q92 (ADC ranking) and q136 (ADC top-R + exact re-rank).
    */
  private[queries] def pqAdcCtesSql: String =
    s"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |qz AS (SELECT vec_id,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab FROM emb)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < $PqC),
         |${ivfStepSql(1)},
         |${ivfStepSql(2)},
         |k0 AS (SELECT code, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code
         |  FROM (SELECT vec_id, qd,
         |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE code < $PqK),
         |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
         |ps AS (SELECT unnest(generate_series(1, $PqSub)) AS pos),
         |cw0 AS (SELECT k.code, js.j,
         |    ${sliceSql("k.cent", "js.j")} AS w
         |  FROM k0 k CROSS JOIN js),
         |${pqTrainSql(1)},
         |${pqTrainSql(2)},
         |cb AS (SELECT vec_id, cluster AS bucket FROM (
         |  SELECT z.vec_id, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c2 c) WHERE rn = 1),
         |codes AS (SELECT vec_id, j, code FROM (
         |  SELECT z.vec_id, w.j, w.code,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id, w.j
         |      ORDER BY ${distSql(sliceSql("z.qd", "w.j"), "w.w")} ASC,
         |        w.code ASC) AS rn
         |  FROM qz z CROSS JOIN cw2 w) WHERE rn = 1),
         |qp AS (SELECT vec_id AS q_id, qd, nq, cluster AS bucket FROM (
         |  SELECT z.vec_id, z.qd, ${dotSql("z.qd", "z.qd")} AS nq, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c2 c WHERE z.vec_id < 50)
         |  WHERE rn <= $PqProbe),
         |cand AS (SELECT q.q_id, q.qd, q.nq, c.vec_id AS n_id
         |  FROM qp q JOIN cb c ON c.bucket = q.bucket AND c.vec_id <> q.q_id),
         |adc AS (SELECT cd.q_id, cd.n_id, ANY_VALUE(cd.nq) AS nq,
         |    SUM(${dotSql(sliceSql("cd.qd", "k.j"), "w.w")}) AS s,
         |    SUM(${dotSql("w.w", "w.w")}) AS nc
         |  FROM cand cd
         |  JOIN codes k ON k.vec_id = cd.n_id
         |  JOIN cw2 w ON w.j = k.j AND w.code = k.code
         |  GROUP BY cd.q_id, cd.n_id)""".stripMargin

  /** q111's oracle: the batched ingest equals this one-shot replay, so
    * the streamed door (q119) declares it too.
    */
  private[queries] val incrementalSemanticSql: String =
    s"""WITH RECURSIVE
       |base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |emb2 AS (
       |  SELECT vec_id, e FROM base
       |  UNION ALL
       |  SELECT vec_id + 1000000, e FROM base WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 2000000, list_transform(e, x -> x * 2.0)
       |  FROM base WHERE vec_id % 11 = 0),
       |qzall AS (SELECT vec_id, e,
       |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
       |  FROM (SELECT vec_id, e,
       |          list_max(list_transform(e, x -> abs(x))) AS mab FROM emb2)
       |  WHERE mab > 0),
       |qz AS (SELECT * FROM qzall WHERE vec_id % 3 = 0),
       |c0 AS (SELECT cluster, cent FROM (
       |  SELECT qd AS cent,
       |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
       |  FROM (SELECT vec_id, qd,
       |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
       |        FROM qz))
       |  WHERE cluster < ${Vectors.IvfC}),
       |${(1 to Vectors.IvfIters)
           .map(Vectors.ivfStepSql).mkString(",\n")},
       |cb AS (SELECT vec_id, e, cluster AS bucket FROM (
       |  SELECT z.vec_id, z.e, c.cluster,
       |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
       |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
       |  FROM qzall z CROSS JOIN c${Vectors.IvfIters} c)
       |  WHERE rn = 1),
       |nb AS (SELECT vec_id, e, bucket, ${dotSql("e", "e")} AS nrm FROM cb),
       |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
       |  FROM nb x JOIN nb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE ${dotSql("x.e", "y.e")} / sqrt(x.nrm * y.nrm)
       |    >= 0.99::DOUBLE),
       |${Corpus.ccLabelsSql}
       |SELECT cb.vec_id, cb.bucket,
       |  COALESCE(l.clus, cb.vec_id) AS cluster,
       |  (COALESCE(l.clus, cb.vec_id) = cb.vec_id) AS kept
       |FROM cb LEFT JOIN labels l ON l.node = cb.vec_id
       |ORDER BY cb.vec_id""".stripMargin

  /** q66's oracle: int8-quantized cosine top-10. The ANN artifact door
    * (q190) must rank the same, so it declares this too.
    */
  private[queries] val quantizedAnnSql: String =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |m AS (SELECT vec_id, e,
       |  list_max(list_transform(e, x -> abs(x))) AS mab FROM emb),
       |qz AS (SELECT vec_id,
       |  list_transform(e, x -> CAST(round((x * 127.0) / mab) AS BIGINT)) AS q
       |  FROM m WHERE mab > 0),
       |n AS (SELECT vec_id, q, ${dotSql("q", "q")} AS nrm FROM qz),
       |qs AS (SELECT vec_id AS q_id, q AS qq, nrm AS nq
       |  FROM n WHERE vec_id < 50),
       |cos AS (
       |  SELECT qs.q_id, c.vec_id AS n_id,
       |    CAST(${dotSql("qs.qq", "c.q")} AS DOUBLE)
       |      / sqrt(CAST(qs.nq * c.nrm AS DOUBLE)) AS qcos
       |  FROM qs, n c WHERE c.vec_id <> qs.q_id)
       |SELECT q_id, n_id, qcos, rank FROM (
       |  SELECT q_id, n_id, qcos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY qcos DESC, n_id ASC) AS rank
       |  FROM cos) t
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Per-query ANN quality of `approx(q_id, n_id, rank)` against the
    * exact top-10 `exact` for the queries `qs(vec_id)`: overlap count,
    * recall and reciprocal rank of the true nearest, as exact ppm.
    */
  private[queries] def recallReport(qs: DataFrame, exact: DataFrame,
      approx: DataFrame): DataFrame = {
    val ov = exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    val rr = exact.filter(col("rank") === 1)
      .select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id"),
        col("rank").as("arank")), Seq("q_id", "n_id"), "left")
      .select(col("q_id"),
        coalesce(expr("1000000 div arank"), lit(0L)).as("rr_ppm"))
    qs.select(col("vec_id").as("q_id"))
      .join(ov, Seq("q_id"), "left")
      .join(rr, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr("coalesce(n_overlap, 0) * 1000000 div 10")
          .as("recall_ppm"),
        coalesce(col("rr_ppm"), lit(0L)).as("rr_ppm"))
      .orderBy(col("q_id"))
  }
}
