package graft.queries

import graft.functions.PortableHash
import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.Vectors.{distSql, dotSql}
import graft.queries.fixtures.{Corpus, Vectors}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 hardening queries: recall/generality extensions of the
  * round-5 scale operators — multi-probe semantic dedup (near-boundary
  * duplicate pairs single-probe SemDeDup misses by construction) and
  * the deterministic epoch shuffle (seeded per-epoch permutation via
  * the two-phase global row-number). Every query replays
  * bit-identically in the DuckDB oracle.
  */
object Round6Queries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic epoch shuffle: each training epoch is a seeded
    // global permutation of the corpus (hash of epoch:doc), with an
    // interleaved writer-shard assignment — the reproducible
    // "shuffle the data every epoch" step of a training-data loader.
    // The global rank comes from Ranking.globalRowNumber (two-phase:
    // range slices + broadcast count offsets), never a
    // single-partition sort of the corpus.
    "q103_epoch_shuffle" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val epochs = s.range(2).select(col("id").cast("int").as("epoch"))
      val keyed = docs.crossJoin(broadcast(epochs))
        .withColumn("k", graft.functions.PortableHash.hash60Base(
          concat_ws(":", col("epoch"), col("doc_id"))))
      graft.operators.Ranking.globalRowNumber(keyed,
          Seq("epoch", "k", "doc_id"), "ord")
        .select(col("epoch"), col("doc_id"), col("ord"),
          ((col("ord") - 1) % 16).as("shard"))
        .orderBy(col("ord"))
    }),

    // Corpus-relative bigram familiarity: the LM-lite fluency signal —
    // fraction of a doc's bigram occurrences whose bigram appears >= 3
    // times corpus-wide. Pure integer counts + one double division
    // (cross-engine ln is not bit-stable; counts are).
    "q108_bigram_familiarity" -> ((s, dir) => {
      graft.text.Repetition.bigramFamiliarity(
        Tables(s, dir, "documents"), "doc_id", "text", minDf = 3L)
        .orderBy(col("doc_id"))
    }),

    // Span-level dedup as an ACTION: q100 detects duplicated spans,
    // this rewrites the corpus with those spans REMOVED (suffix-array-
    // style scrubbing) — surviving tokens re-joined in order; docs
    // without spans pass through whitespace-normalized.
    "q107_span_scrub" -> ((s, dir) => {
      graft.dedup.Dedup.scrubDuplicateSpans(
        Corpus.corpus(s, dir), "doc_id", "text", k = 8,
        maxDf = 64L)
        .orderBy(col("doc_id"))
    }),

    // Per-sequence packing manifest: q91's placement expanded to one
    // row per (sequence, document) span — which token range of which
    // document lands at which offset of which training sequence. A
    // row-local integer-range explode; spans tile each sequence
    // exactly.
    "q106_seq_manifest" -> ((s, dir) => {
      val placed = graft.pipeline.Packing.packSequences(
        Tables(s, dir, "documents"), "doc_id", "text",
        seqLen = 2048, numGroups = 8)
      graft.pipeline.Packing.sequenceManifest(placed, "doc_id",
          seqLen = 2048)
        .orderBy(col("grp"), col("seq"), col("seq_from"), col("doc_id"))
    }),

    // The full cleaning pipeline with the keep-best survivor policy:
    // same gates and dedup stages as q46, but each near-dup cluster
    // keeps its HIGHEST-quality member (ties -> lowest id) instead of
    // its minimum id — the survivor policy composed into the pipeline.
    "q105_pipeline_best" -> ((s, dir) => {
      graft.pipeline.CorpusPipeline.clean(
        Corpus.corpus(s, dir), "doc_id", "text",
        graft.pipeline.CorpusPipeline.Config(keepBest = true))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // Quality-aware near-dup survivor selection: LSH pairs resolve to
    // clusters (min-id labels), but the SURVIVOR is the best-quality
    // member (ties -> lowest id) — the keep-best policy real curation
    // pipelines use instead of keep-min-id. Every stage (shingles,
    // signatures, banding, verify, CC, quality, survivor window)
    // replays in the oracle.
    "q104_dedup_best" -> ((s, dir) => {
      val c = Corpus.corpus(s, dir)
      val scored = c.select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text"),
          Seq("the", "a", "of", "and", "is")).as("quality"))
      val pairs = graft.dedup.Dedup.minhashNearDuplicates(
        c, "doc_id", "text")
      graft.dedup.Dedup.survivorsByScore(scored, "doc_id", "quality",
          pairs)
        .select(col("doc_id"), col("quality"), col("cluster"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // Multi-probe semantic dedup: q95's planted corpus (exact copies +
    // 2x-scaled copies) deduplicated with nProbe=2 pair generation —
    // each vector enters its TWO nearest buckets for the pair stage
    // (output buckets stay primary), so duplicate pairs straddling a
    // cluster boundary are compared instead of silently missed.
    "q102_semantic_multiprobe" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val repA = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val repB = emb.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      graft.similarity.Similarity.semanticDedup(
        emb.unionByName(repA).unionByName(repB), "vec_id", "embedding",
        threshold = 0.99, c = Vectors.IvfC,
        iters = Vectors.IvfIters, nProbe = 2)
        .orderBy(col("vec_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q108_bigram_familiarity" ->
      s"""WITH ts AS (SELECT doc_id, $toksExpr AS t FROM documents),
         |g AS (SELECT doc_id, ts.t[i] || ' ' || ts.t[i+1] AS gram
         |  FROM ts, UNNEST(generate_series(1, len(ts.t) - 1)) AS u(i)),
         |pg AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM g GROUP BY doc_id, gram),
         |cd AS (SELECT gram, CAST(SUM(n) AS BIGINT) AS df
         |  FROM pg GROUP BY gram),
         |agg AS (SELECT doc_id,
         |    CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(CASE WHEN cd.df >= 3 THEN n ELSE 0 END) AS BIGINT)
         |      AS n_familiar
         |  FROM pg JOIN cd USING (gram) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, n_familiar,
         |  CAST(n_familiar AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |    AS familiarity
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q107_span_scrub" -> {
      import Corpus.corpusSql
      s"""WITH $corpusSql,
         |rts AS (SELECT doc_id, $toksExpr AS ts FROM corpus),
         |grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    md5(array_to_string(ts[i:i+7], ' ')) AS gram
         |  FROM rts, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
         |dup AS (SELECT gram FROM grams GROUP BY gram
         |  HAVING COUNT(*) > 1 AND COUNT(*) <= 64),
         |dp AS (SELECT doc_id, pos FROM grams
         |  WHERE gram IN (SELECT gram FROM dup)),
         |ranges AS (SELECT doc_id, span, MIN(pos) AS f,
         |    MAX(pos) + 8 AS t FROM (
         |  SELECT doc_id, pos,
         |    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS span
         |  FROM (SELECT doc_id, pos,
         |      CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
         |        ORDER BY pos) = 1 THEN 0 ELSE 1 END AS brk
         |    FROM dp))
         |  GROUP BY doc_id, span),
         |toks AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, ts[i] AS tok
         |  FROM rts, UNNEST(generate_series(1, len(ts))) AS u(i)),
         |kept AS (SELECT k.doc_id, k.p, k.tok FROM toks k
         |  WHERE NOT EXISTS (SELECT 1 FROM ranges r
         |    WHERE r.doc_id = k.doc_id AND k.p >= r.f AND k.p < r.t)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text
         |  FROM kept GROUP BY doc_id)
         |SELECT c.doc_id, COALESCE(a.text, '') AS text
         |FROM corpus c LEFT JOIN agg a USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin
    },
    "q106_seq_manifest" -> Corpus.seqManifestSql,
    "q105_pipeline_best" -> {
      import Corpus.{corpusSql, minhashCtesSql, pairsCteSql, shinglesSql}
      s"""WITH RECURSIVE
         |$corpusSql,
         |${Corpus.rowGatesSql("corpus")},
         |${Corpus.exactDedupSql("g2")},
         |${shinglesSql("ex")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |${Corpus.ccLabelsSql},
         |ranked AS (SELECT e.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY COALESCE(l.clus, e.doc_id)
         |      ORDER BY e.quality DESC, e.doc_id) AS rk
         |  FROM ex e LEFT JOIN labels l ON l.node = e.doc_id),
         |losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
         |SELECT e.doc_id, e.quality, e.lang_pred
         |FROM ex e
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
         |ORDER BY e.doc_id""".stripMargin
    },
    "q104_dedup_best" -> {
      import Corpus.{corpusSql, minhashCtesSql, pairsCteSql,
        qualityExprSql, shinglesSql}
      s"""WITH RECURSIVE
         |$corpusSql,
         |${shinglesSql("corpus")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |${Corpus.ccLabelsSql},
         |scored AS (SELECT doc_id, $qualityExprSql AS quality FROM corpus),
         |lab2 AS (SELECT s.doc_id, s.quality,
         |    COALESCE(l.clus, s.doc_id) AS cluster
         |  FROM scored s LEFT JOIN labels l ON l.node = s.doc_id)
         |SELECT doc_id, quality, cluster,
         |  (ROW_NUMBER() OVER (PARTITION BY cluster
         |     ORDER BY quality DESC, doc_id) = 1) AS kept
         |FROM lab2 ORDER BY doc_id""".stripMargin
    },
    "q103_epoch_shuffle" ->
      s"""WITH e AS (SELECT unnest([0, 1]) AS epoch),
         |k AS (SELECT d.doc_id, e.epoch,
         |    ${PortableHash.hash60BaseSql(
               "(e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR)")} AS k
         |  FROM documents d CROSS JOIN e),
         |r AS (SELECT epoch, doc_id,
         |    ROW_NUMBER() OVER (ORDER BY epoch, k, doc_id) AS ord
         |  FROM k)
         |SELECT epoch, doc_id, ord, (ord - 1) % 16 AS shard
         |FROM r ORDER BY ord""".stripMargin,
    "q102_semantic_multiprobe" ->
      s"""WITH RECURSIVE
         |base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |emb2 AS (
         |  SELECT vec_id, e FROM base
         |  UNION ALL
         |  SELECT vec_id + 1000000, e FROM base WHERE vec_id % 7 = 0
         |  UNION ALL
         |  SELECT vec_id + 2000000, list_transform(e, x -> x * 2.0)
         |  FROM base WHERE vec_id % 11 = 0),
         |qz AS (SELECT vec_id, e,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab FROM emb2)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < ${Vectors.IvfC}),
         |${(1 to Vectors.IvfIters)
             .map(Vectors.ivfStepSql).mkString(",\n")},
         |ranked AS (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c${Vectors.IvfIters} c),
         |cb AS (SELECT vec_id, e, cluster AS bucket FROM ranked
         |  WHERE rn = 1),
         |pb AS (SELECT vec_id, e, cluster AS bucket FROM ranked
         |  WHERE rn <= 2),
         |nb AS (SELECT vec_id, e, bucket, ${dotSql("e", "e")} AS nrm FROM pb),
         |pairs AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM nb x JOIN nb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  WHERE ${dotSql("x.e", "y.e")} / sqrt(x.nrm * y.nrm)
         |    >= 0.99::DOUBLE),
         |${Corpus.ccLabelsSql}
         |SELECT cb.vec_id, cb.bucket,
         |  COALESCE(l.clus, cb.vec_id) AS cluster,
         |  (COALESCE(l.clus, cb.vec_id) = cb.vec_id) AS kept
         |FROM cb LEFT JOIN labels l ON l.node = cb.vec_id
         |ORDER BY cb.vec_id""".stripMargin
  )
}
