package graft.queries

import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.{Corpus, Media, Streams, Text, Vectors}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 queries, second batch: the perceptual image index joins the
  * incremental + streaming families (q151/q152), the unified purge
  * sweep covers the winnowing and image families end to end through
  * storage (q153), and DSIR-style importance resampling joins the
  * mixture toolbox (q154). Every query replays bit-identically in the
  * DuckDB oracle.
  */
object Round9bQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Incremental ingest for the perceptual IMAGE index — the
    // incremental family's fifth and last member (text LSH q97,
    // semantic q111, audio q131, winnow q149): q110's planted image
    // corpus arrives in 3 batches (%3), only the batch is banded per
    // fold, candidates from new-vs-(stored+new) band collisions,
    // pairs exactly-once. Oracle = q110's SQL VERBATIM: batched
    // ingest must reproduce the one-shot clustering — band membership
    // is per-image, so this holds even in the band-limited regime
    // (maxHamming 6 > the pigeonhole bound 3).
    "q151_incremental_image" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.multimodal.HammingIndex.Image
      import graft.multimodal.Perceptual
      val fps = Perceptual.dHashes(Media.bmpMedia(s, dir))
        .localCheckpoint()
      val (i0, p0) = Image.build(fps.filter(col("id") % 3 === 0))
      val (i1, p1) = Image.addBatch(i0, fps.filter(col("id") % 3 === 1))
      val (i2, p2) = Image.addBatch(i1, fps.filter(col("id") % 3 === 2))
      Image.clusters(i2, p0.unionByName(p1).unionByName(p2))
        .orderBy(col("id"))
    }),

    // ...and its STREAMING door (the fifth: text q118, embeddings
    // q119, audio q132, spans q150, images q152): BMP payloads land
    // as a 3-file staging directory, each micro-batch is decoded +
    // dHashed once and folds into HammingIndex.Image. Oracle =
    // q110's SQL VERBATIM while the stream's file batching differs
    // from q151's %3 — batching-independence hash-checked.
    "q152_stream_image_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      implicit val sp: SparkSession = s
      import graft.multimodal.HammingIndex.Image
      val stage = Files.createTempDirectory("graft-q152-landing").toString
      val cp = Files.createTempDirectory("graft-q152-cp").toString
      Media.bmpMedia(s, dir).toDF()
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(s, stage)
      val (idx, pairs) = graft.streaming.StreamingMedia.ingest(Image)(stream,
        cp)
      Streams.rmTree(stage); Streams.rmTree(cp)
      Image.clusters(idx, pairs).orderBy(col("id"))
    }),

    // The unified purge sweep over the two index families q139 didn't
    // exercise, end to end THROUGH STORAGE: build the winnowing
    // provenance index (over documents) and the perceptual image
    // index (over q110's corpus) on each corpus's %4!=1 slice,
    // publish both (history kept), forget every id divisible by 3 in
    // ONE Purge.forget call, reload from the purged catalog, and
    // ingest the %4==1 batch into each. The emitted winnow matches +
    // image pairs must equal one-shot runs over (allowed = batch OR
    // id%3<>0), restricted to batch-touching pairs — proving the
    // purge removed the rows from the STORED relations in both
    // families.
    "q153_purge_media" -> ((s, dir) => {
      import java.nio.file.Files
      implicit val sp: SparkSession = s
      import graft.multimodal.HammingIndex.Image
      import graft.multimodal.Perceptual
      import graft.text.IncrementalWinnow
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hashes = Perceptual.dHashes(Media.bmpMedia(s, dir))
        .localCheckpoint()
      val (wIdx, _) = IncrementalWinnow.build(
        docs.filter(col("doc_id") % 4 =!= 1), "doc_id", "text")
      val (iIdx, _) = Image.build(hashes.filter(col("id") % 4 =!= 1))
      val root = Files.createTempDirectory("graft-q153").toString
      val cat = new graft.catalog.ParquetCatalog(s, root)
      IncrementalWinnow.save(wIdx, cat, "w", vacuumHistory = false)
      Image.save(iIdx, cat, "img", vacuumHistory = false)
      val purgeIds = docs.select(col("doc_id").as("pid"))
        .unionByName(hashes.select(col("id").as("pid")))
        .filter(col("pid") % 3 === 0)
      graft.pipeline.Purge.forget(cat, purgeIds, "pid",
        winnow = Seq("w"), image = Seq("img"))
      val (_, wp) = IncrementalWinnow.addBatch(
        IncrementalWinnow.load(cat, "w"),
        docs.filter(col("doc_id") % 4 === 1), "doc_id", "text")
      val (_, ip) = Image.addBatch(Image.load(cat, "img"),
        hashes.filter(col("id") % 4 === 1))
      val out = wp.select(lit("winnow").as("family"), col("a"), col("b"))
        .unionByName(ip.select(lit("image").as("family"), col("a"),
          col("b")))
        .orderBy(col("family"), col("a"), col("b")).localCheckpoint()
      Streams.rmTree(root)
      out
    }),

    // CROSS-MODAL contamination report: every train-vs-eval matcher
    // the engine has — text near-dup (q120), span provenance (q121),
    // perceptual image (q137), audio fingerprint (q138), SEMANTIC
    // embedding (q158) — fused into ONE per-eval-item release-review
    // relation (modality, eval_id, n_matches). Each modality checks
    // its own established planted benchmark corpus; the oracle chains
    // all five verified replays (suffixed CTE chains coexisting in one
    // WITH) and aggregates the same way. One decode pass per media
    // family feeds both sides.
    "q155_contamination_report" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.multimodal.{AudioFp, Perceptual}
      import graft.text.{TextAnalysis, Winnow}
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // q120's eval corpus: exact copies, tail-marker near-dups, fresh
      val evNear = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(col("text"), lit(" zz tail marker")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            concat(lit("fresh eval doc "), col("doc_id").cast("string"),
              lit(" with wholly unique content")).as("text")))
      val near = graft.dedup.Dedup.crossCorpusMatches(docs, "doc_id",
          "text", evNear, "doc_id", "text")
        .groupBy(col("b")).agg(count(lit(1)).as("n_matches"))
      // q121's eval corpus: exact, 24-token span copies, fresh
      val evSpan = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(
              concat_ws(" ",
                slice(TextAnalysis.tokens(col("text")), 1, 24)),
              lit(" wholly fresh continuation appended beyond the span"))
              .as("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            concat(lit("fresh eval doc "), col("doc_id").cast("string"),
              lit(" with wholly unique content tokens")).as("text")))
      val span = Winnow.crossMatches(
          Winnow.fingerprints(docs, "doc_id", "text", k = 3, w = 4),
          Winnow.fingerprints(evSpan, "doc_id", "text", k = 3, w = 4),
          "doc_id", minShared = 2, maxDf = 16)
        .groupBy(col("b")).agg(count(lit(1)).as("n_matches"))
      val dhs = Perceptual.dHashes(Media.bmpMedia(s, dir))
        .localCheckpoint()
      val img = Perceptual.crossMatches(dhs.filter(col("id") % 4 === 0),
          dhs.filter(col("id") % 4 =!= 0), "id", "dhash", maxHamming = 6)
        .groupBy(col("b")).agg(count(lit(1)).as("n_matches"))
      val afps = AudioFp.fingerprints(Media.audioMedia(s, dir))
        .localCheckpoint()
      val aud = AudioFp.crossMatches(afps.filter(col("id") % 4 === 0),
          afps.filter(col("id") % 4 =!= 0), "id", "afp")
        .groupBy(col("b")).agg(count(lit(1)).as("n_matches"))
      // q158's eval corpus: the embedding-space (paraphrase-level)
      // modality — scaled copies of the train slice + held-out fresh
      val embT = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val trainE = embT.filter(col("vec_id") % 5 =!= 1)
      val evalE = trainE.filter(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .unionByName(embT.filter(col("vec_id") % 5 === 1)
          .select((col("vec_id") + 4000000L).as("vec_id"),
            col("embedding")))
      val sem = graft.similarity.Similarity.crossCorpusSemanticMatches(
          trainE, "vec_id", evalE, "vec_id", "embedding",
          threshold = 0.99, c = Vectors.IvfC,
          iters = Vectors.IvfIters, nProbe = 2)
        .groupBy(col("eval_id")).agg(count(lit(1)).as("n_matches"))
      def tag(df: DataFrame, m: String) =
        df.select(lit(m).as("modality"), col("b").as("eval_id"),
          col("n_matches"))
      tag(near, "near").unionByName(tag(span, "span"))
        .unionByName(tag(img, "image")).unionByName(tag(aud, "audio"))
        .unionByName(sem.select(lit("semantic").as("modality"),
          col("eval_id"), col("n_matches")))
        .orderBy(col("modality"), col("eval_id"))
    }),

    // DSIR-style importance resampling: raw corpus = all documents;
    // target = the srcnum%4==1 sources. Hashed unigram+bigram
    // likelihood ratios (exact scaled integers, clamped), per-doc
    // mean-ratio importance, and the deterministic hash-gate keep at
    // threshold min(Unit, keepPpm·imp/mean_imp) — sampling
    // probability proportional to how target-like the document is.
    "q154_dsir_resample" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val srcnum = substring(col("source"), 4, 10).cast("int")
      graft.pipeline.Dsir.resample(
          docs.select(col("doc_id"), col("text")),
          docs.filter(srcnum % 4 === 1).select(col("doc_id"), col("text")),
          "doc_id", "text", dim = Corpus.DsirDim, keepPpm = Corpus.DsirKeepPpm)
        .orderBy(col("doc_id"))
    }),

    // DSIR's DEPLOYMENT shape: the sampler is FITTED once on a seed
    // slice (%3==0) of the raw corpus — ratio table + frozen mean
    // normalizer, both derived from seed statistics — then APPLIED to
    // the whole corpus. Scoring is per-doc against frozen state, so
    // any batching equals this one-shot apply (the streaming doors
    // can call applyModel per micro-batch unchanged). The oracle
    // derives the ratios and the mean from the SEED slice and the
    // thresholds over all documents.
    "q156_dsir_fit_apply" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val srcnum = substring(col("source"), 4, 10).cast("int")
      val raw = docs.select(col("doc_id"), col("text"))
      val model = graft.pipeline.Dsir.fit(
        raw.filter(col("doc_id") % 3 === 0),
        docs.filter(srcnum % 4 === 1).select(col("doc_id"), col("text")),
        "doc_id", "text", dim = Corpus.DsirDim, keepPpm = Corpus.DsirKeepPpm)
      graft.pipeline.Dsir.applyModel(model, raw, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Cluster-balanced DIVERSITY selection — semanticDedup's coverage
    // complement: q42's verified portable Lloyd trains the coarse
    // quantizer, every vector scores its exact double cosine to its
    // own centroid, and the 8 most CENTRAL members per cluster
    // survive. The oracle replays training (q42's CTEs), assignment,
    // the centrality cosine, and the per-cluster rank.
    "q157_diversity_sample" -> ((s, dir) => {
      graft.similarity.Similarity.diversitySample(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          perCluster = DivPer, c = Vectors.IvfC,
          iters = Vectors.IvfIters)
        .orderBy(col("vec_id"))
    })
  )

  /** q157 representatives kept per cluster. */
  private val DivPer = 8

  // ---- oracle SQL ----------------------------------------------------

  val oracleSql: Map[String, String] = Map(

    // q110's SQL verbatim — batched ingest must reproduce the
    // one-shot perceptual clustering
    "q151_incremental_image" ->
      Media.perceptualDedupSql,

    // the same replay under per-file batching — streamed == batched
    "q152_stream_image_ingest" ->
      Media.perceptualDedupSql,

    // One-shot replays of both post-purge states: winnow matches
    // (q149's arithmetic) and image pairs (q110's) over
    // allowed = (id%4=1 OR id%3<>0), restricted to batch-touching
    // pairs — exactly what the reloaded-then-grown indexes must emit
    // iff the purge removed the rows from storage.
    "q153_purge_media" ->
      s"""WITH ${Text.winnowFpCtes()},
         |wallow AS (SELECT * FROM fps
         |  WHERE doc_id % 4 = 1 OR doc_id % 3 <> 0),
         |wm AS (SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM wallow l JOIN wallow r
         |    ON l.fp = r.fp AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |${Media.imageDhCtesSql},
         |iallow AS (SELECT rid, dhash FROM dh
         |  WHERE rid % 4 = 1 OR rid % 3 <> 0),
         |ib AS (SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM iallow, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |ip AS (SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.dhash AS ha, y.dhash AS hb
         |    FROM ib x JOIN ib y ON x.band = y.band AND x.v = y.v
         |      AND x.rid < y.rid)
         |  WHERE bit_count(xor(ha, hb)) <= 6)
         |SELECT family, a, b FROM (
         |  SELECT 'winnow' AS family, a, b FROM wm
         |    WHERE a % 4 = 1 OR b % 4 = 1
         |  UNION ALL
         |  SELECT 'image', a, b FROM ip
         |    WHERE a % 4 = 1 OR b % 4 = 1)
         |ORDER BY family, a, b""".stripMargin,

    // all four verified cross-corpus replays — q120's near-dup chain,
    // q121's winnowing chain (suffixed wt/we), q137's image chain
    // (suffixed i), q138's audio chain — in one WITH, each aggregated
    // per eval item and union-tagged by modality
    "q155_contamination_report" -> {
      import Corpus.{shinglesSql, sigBucketsSql}
      import Text.winnowFpCtes
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |ev AS (
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000, text || ' zz tail marker'
         |  FROM documents WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 7000000, 'fresh eval doc ' || doc_id::VARCHAR
         |    || ' with wholly unique content'
         |  FROM documents WHERE doc_id % 5 = 0),
         |${shinglesSql("train", "t")},
         |${sigBucketsSql("t")},
         |${shinglesSql("ev", "e")},
         |${sigBucketsSql("e")},
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bucketst l JOIN bucketse r
         |    ON l.band = r.band AND l.bucket = r.bucket),
         |sizest AS (SELECT doc_id, count(*) AS na FROM sht GROUP BY doc_id),
         |sizese AS (SELECT doc_id, count(*) AS nb FROM she GROUP BY doc_id),
         |common AS (
         |  SELECT c.a, c.b, count(*) AS n_common
         |  FROM cand c
         |  JOIN sht x ON x.doc_id = c.a
         |  JOIN she y ON y.doc_id = c.b AND y.shh = x.shh
         |  GROUP BY c.a, c.b),
         |nearm AS (
         |  SELECT cm.b AS eval_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         |  FROM common cm
         |  JOIN sizest sa ON sa.doc_id = cm.a
         |  JOIN sizese sb ON sb.doc_id = cm.b
         |  WHERE cm.n_common::DOUBLE / (sa.na + sb.nb - cm.n_common) >= 0.5
         |  GROUP BY 1),
         |evw AS (
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000,
         |    array_to_string(
         |      (list_filter(string_split_regex(text, '\\s+'),
         |        x -> x <> ''))[1:24], ' ')
         |      || ' wholly fresh continuation appended beyond the span'
         |  FROM documents WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 7000000, 'fresh eval doc ' || doc_id::VARCHAR
         |    || ' with wholly unique content tokens'
         |  FROM documents WHERE doc_id % 5 = 0),
         |${winnowFpCtes("train", "wt")},
         |${winnowFpCtes("evw", "we")},
         |wkeep AS (SELECT fp FROM (
         |    SELECT fp FROM fpswt UNION ALL SELECT fp FROM fpswe)
         |  GROUP BY fp HAVING COUNT(*) <= 16),
         |wfa AS (SELECT f.* FROM fpswt f JOIN wkeep USING (fp)),
         |wfb AS (SELECT f.* FROM fpswe f JOIN wkeep USING (fp)),
         |spanp AS (SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM wfa l JOIN wfb r ON l.fp = r.fp
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |spanm AS (SELECT b AS eval_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_matches
         |  FROM spanp GROUP BY 1),
         |${Media.imageDhCtes("i")},
         |bandsi AS (
         |  SELECT rid, dhash, bb.band,
         |    (dhash >> (bb.band * 14)) & 16383 AS v
         |  FROM dhi, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |imgp AS (
         |  SELECT DISTINCT x.rid AS a, y.rid AS b,
         |    x.dhash AS ha, y.dhash AS hb
         |  FROM bandsi x JOIN bandsi y
         |    ON x.band = y.band AND x.v = y.v
         |   AND x.rid % 4 = 0 AND y.rid % 4 <> 0),
         |imgm AS (SELECT b AS eval_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_matches
         |  FROM imgp WHERE bit_count(xor(ha, hb)) <= 6 GROUP BY 1),
         |${Media.audioFpCtesSql},
         |bandsa AS (
         |  SELECT rid, afp, bb.band, (afp >> (bb.band * 13)) & 8191 AS v
         |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |audp AS (
         |  SELECT DISTINCT x.rid AS a, y.rid AS b, x.afp AS ha, y.afp AS hb
         |  FROM bandsa x JOIN bandsa y
         |    ON x.band = y.band AND x.v = y.v
         |   AND x.rid % 4 = 0 AND y.rid % 4 <> 0),
         |audm AS (SELECT b AS eval_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_matches
         |  FROM audp WHERE bit_count(xor(ha, hb)) <= 3 GROUP BY 1),
         |sembase AS (SELECT vec_id, embedding::DOUBLE[] AS e
         |  FROM embeddings),
         |semtr AS (SELECT vec_id, e FROM sembase WHERE vec_id % 5 <> 1),
         |semev AS (
         |  SELECT vec_id + 3000000 AS vec_id,
         |    list_transform(e, x -> x * 2.0) AS e
         |  FROM semtr WHERE vec_id % 13 = 0
         |  UNION ALL
         |  SELECT vec_id + 4000000, e FROM sembase WHERE vec_id % 5 = 1),
         |qz AS (SELECT vec_id, e,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab
         |        FROM semtr)
         |  WHERE mab > 0),
         |qze AS (SELECT vec_id, e,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab
         |        FROM semev)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${graft.functions.PortableHash
                      .hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < ${Vectors.IvfC}),
         |${(1 to Vectors.IvfIters)
             .map(Vectors.ivfStepSql).mkString(",\n")},
         |semtb AS (SELECT vec_id, e, cluster AS bucket,
         |    ${Vectors.dotSql("e", "e")} AS nrm FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${Vectors.distSql("z.qd", "c.cent")} ASC, c.cluster ASC)
         |      AS rn
         |  FROM qz z CROSS JOIN c${Vectors.IvfIters} c)
         |  WHERE rn = 1),
         |semeb AS (SELECT vec_id, e, cluster AS bucket,
         |    ${Vectors.dotSql("e", "e")} AS nrm FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${Vectors.distSql("z.qd", "c.cent")} ASC, c.cluster ASC)
         |      AS rn
         |  FROM qze z CROSS JOIN c${Vectors.IvfIters} c)
         |  WHERE rn <= 2),
         |semm AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         |  FROM (SELECT t.vec_id AS train_id, v.vec_id AS eval_id,
         |      ${Vectors.dotSql("t.e", "v.e")} / sqrt(t.nrm * v.nrm) AS cosine
         |    FROM semtb t JOIN semeb v ON t.bucket = v.bucket)
         |  WHERE cosine >= 0.99::DOUBLE GROUP BY 1)
         |SELECT modality, eval_id, n_matches FROM (
         |  SELECT 'near' AS modality, eval_id, n_matches FROM nearm
         |  UNION ALL SELECT 'span', eval_id, n_matches FROM spanm
         |  UNION ALL SELECT 'image', eval_id, n_matches FROM imgm
         |  UNION ALL SELECT 'audio', eval_id, n_matches FROM audm
         |  UNION ALL SELECT 'semantic', eval_id, n_matches FROM semm)
         |ORDER BY modality, eval_id""".stripMargin
    },

    // the full DSIR replay: tokenize, unigram+bigram occurrences,
    // hashed buckets, smoothed clamped integer ratios over the dense
    // bucket range, per-doc mean importance, 1-row mean normalizer,
    // threshold + md5 hash gate — every division a nonnegative
    // integer floor (`//` == Spark `div`)
    "q154_dsir_resample" -> {
      val gateSql = graft.functions.PortableHash
        .hash60BaseSql("'dsir:' || sc.doc_id::VARCHAR")
      s"""WITH ts AS (SELECT doc_id, source, $toksExpr AS t FROM documents),
         |occ AS (
         |  SELECT doc_id, source, unnest(t) AS feat FROM ts
         |  UNION ALL
         |  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS feat
         |  FROM ts, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
         |feats AS (SELECT doc_id, source,
         |    ${graft.text.TextClassify.bucketSql("feat", Corpus.DsirDim)} AS bucket
         |  FROM occ),
         |rn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats GROUP BY bucket),
         |tn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats WHERE CAST(substr(source, 4) AS INT) % 4 = 1
         |  GROUP BY bucket),
         |ratios AS (SELECT g.range AS bucket,
         |    LEAST(${graft.pipeline.Dsir.RatioCap},
         |      ((COALESCE(t.c, 0) + 1) * ${graft.pipeline.Dsir.Scale})
         |        // (COALESCE(r.c, 0) + 1)) AS ratio
         |  FROM range(${Corpus.DsirDim}) g
         |  LEFT JOIN rn r ON r.bucket = g.range
         |  LEFT JOIN tn t ON t.bucket = g.range),
         |sc AS (SELECT f.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(ra.ratio) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         |      AS imp
         |  FROM feats f JOIN ratios ra ON ra.bucket = f.bucket
         |  GROUP BY f.doc_id),
         |m AS (SELECT GREATEST(1,
         |    CAST(SUM(imp) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
         |  AS mean_imp FROM sc)
         |SELECT sc.doc_id, sc.n_feats, sc.imp,
         |  CAST(LEAST(1000000, (${Corpus.DsirKeepPpm} * sc.imp) // m.mean_imp)
         |    AS BIGINT) AS threshold,
         |  (($gateSql % 1000000)
         |    < LEAST(1000000, (${Corpus.DsirKeepPpm} * sc.imp) // m.mean_imp))
         |    AS keep
         |FROM sc, m
         |ORDER BY sc.doc_id""".stripMargin
    },

    // q154's replay with the fit/apply split: ratios from the SEED
    // slice (rn restricted to doc_id%3=0), target counts from the full
    // target slice, the mean normalizer from the seed's own importance
    // rows, thresholds applied to every document
    "q156_dsir_fit_apply" -> {
      val gateSql = graft.functions.PortableHash
        .hash60BaseSql("'dsir:' || sc.doc_id::VARCHAR")
      s"""WITH ts AS (SELECT doc_id, source, $toksExpr AS t FROM documents),
         |occ AS (
         |  SELECT doc_id, source, unnest(t) AS feat FROM ts
         |  UNION ALL
         |  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS feat
         |  FROM ts, UNNEST(generate_series(1, len(t) - 1)) AS u(i)),
         |feats AS (SELECT doc_id, source,
         |    ${graft.text.TextClassify.bucketSql("feat", Corpus.DsirDim)} AS bucket
         |  FROM occ),
         |rn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats WHERE doc_id % 3 = 0 GROUP BY bucket),
         |tn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM feats WHERE CAST(substr(source, 4) AS INT) % 4 = 1
         |  GROUP BY bucket),
         |ratios AS (SELECT g.range AS bucket,
         |    LEAST(${graft.pipeline.Dsir.RatioCap},
         |      ((COALESCE(t.c, 0) + 1) * ${graft.pipeline.Dsir.Scale})
         |        // (COALESCE(r.c, 0) + 1)) AS ratio
         |  FROM range(${Corpus.DsirDim}) g
         |  LEFT JOIN rn r ON r.bucket = g.range
         |  LEFT JOIN tn t ON t.bucket = g.range),
         |sc AS (SELECT f.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(ra.ratio) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         |      AS imp
         |  FROM feats f JOIN ratios ra ON ra.bucket = f.bucket
         |  GROUP BY f.doc_id),
         |m AS (SELECT GREATEST(1,
         |    CAST(SUM(imp) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
         |  AS mean_imp FROM sc WHERE doc_id % 3 = 0)
         |SELECT sc.doc_id, sc.n_feats, sc.imp,
         |  CAST(LEAST(1000000, (${Corpus.DsirKeepPpm} * sc.imp) // m.mean_imp)
         |    AS BIGINT) AS threshold,
         |  (($gateSql % 1000000)
         |    < LEAST(1000000, (${Corpus.DsirKeepPpm} * sc.imp) // m.mean_imp))
         |    AS keep
         |FROM sc, m
         |ORDER BY sc.doc_id""".stripMargin
    },

    // q42's training + assignment CTEs over the full corpus, then the
    // centrality cosine against each member's own centroid and the
    // per-cluster ROW_NUMBER cut
    "q157_diversity_sample" -> {
      val iters = Vectors.IvfIters
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e
         |  FROM embeddings),
         |qz AS (SELECT vec_id, e,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab FROM emb)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${graft.functions.PortableHash
                      .hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < ${Vectors.IvfC}),
         |${(1 to iters).map(Vectors.ivfStepSql).mkString(",\n")},
         |cb AS (SELECT vec_id, e, cluster AS bucket FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${Vectors.distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c$iters c) WHERE rn = 1),
         |sc AS (SELECT b.vec_id, b.bucket,
         |    ${Vectors.dotSql("b.e", "c.cent")}
         |      / sqrt(${Vectors.dotSql("b.e", "b.e")} * ${Vectors.dotSql("c.cent", "c.cent")})
         |      AS centrality
         |  FROM cb b JOIN c$iters c ON c.cluster = b.bucket)
         |SELECT vec_id, bucket, centrality, rank FROM (
         |  SELECT vec_id, bucket, centrality,
         |    ROW_NUMBER() OVER (PARTITION BY bucket
         |      ORDER BY centrality DESC, vec_id ASC) AS rank
         |  FROM sc) t
         |WHERE rank <= $DivPer
         |ORDER BY vec_id""".stripMargin
    }
  )
}
