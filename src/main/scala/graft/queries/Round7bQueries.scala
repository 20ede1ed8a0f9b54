package graft.queries

import java.nio.file.Files

import graft.queries.fixtures.{Corpus, Streams, Text, Vectors}
import graft.streaming.StreamFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 continuation: the streaming ingest front doors for the
  * near-dup text index (q118) and the semantic embedding index (q119).
  * Every query replays bit-identically in the DuckDB oracle.
  */
object Round7bQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Streaming near-dup ingestion, run FOR REAL: the planted corpus
    // is staged as a multi-file landing directory, a file-source
    // stream drains it one file per micro-batch (AvailableNow), and
    // foreachBatch folds each batch into the incremental LSH index.
    // Per-batch pair outputs are exactly-once across batches, so the
    // accumulated set must equal the one-shot run — the oracle is the
    // SAME whole-corpus SQL replay as q20/q97, making "streamed ==
    // batch" a hash-checked contract, not just a spec assertion.
    "q118_stream_lsh_ingest" -> ((s, dir) => {
      val stage = Files.createTempDirectory("graft-q118-landing").toString
      val cp = Files.createTempDirectory("graft-q118-cp").toString
      // Distributed staging write (no driver collect): 3 hash-split
      // files so the drain runs several real micro-batches. The pair
      // SET is batching-independent either way.
      Corpus.corpus(s, dir)
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val (_, pairs) = graft.streaming.StreamingLsh.ingest(
        StreamFold.files(s, stage), "doc_id", "text", cp)
      // pairs + index relations are localCheckpoint-materialized, so the
      // staging corpus and stream checkpoint are deletable immediately
      // (a bench sweep would otherwise leave ~12 corpus copies in /tmp)
      Streams.rmTree(stage); Streams.rmTree(cp)
      pairs.orderBy(col("a"), col("b"))
    }),

    // Streaming ingest for the EMBEDDING index: q111's planted corpus,
    // but only the seed slice (vec_id % 3 = 0) is indexed up front
    // (centroids train there — the oracle's `qz` slice); the growth
    // slices land as parquet files and a file-source stream drains
    // them one file per micro-batch through foreachBatch into
    // IncrementalSemantic. The file split (hash of vec_id, 2 files)
    // deliberately DIFFERS from q111's %3 batching: per-batch pair
    // output is exactly-once under ANY batching, so the accumulated
    // union still equals the one-shot replay — the oracle is q111's
    // SQL verbatim, hash-checking batching-independence for real.
    "q119_stream_semantic_ingest" -> ((s, dir) => {
      import graft.similarity.IncrementalSemantic
      import graft.sources.Tables
      val stage = Files.createTempDirectory("graft-q119-landing").toString
      val cp = Files.createTempDirectory("graft-q119-cp").toString
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val repA = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val repB = emb.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val full = emb.unionByName(repA).unionByName(repB)
      val (i0, p0) = IncrementalSemantic.build(
        full.filter(col("vec_id") % 3 === 0), "vec_id", "embedding",
        threshold = 0.99, c = Vectors.IvfC,
        iters = Vectors.IvfIters)
      full.filter(col("vec_id") % 3 =!= 0)
        .repartition(2, col("vec_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = StreamFold.files(s, stage)
      val (idx, streamed) = graft.streaming.StreamingSemantic.ingest(
        stream, "vec_id", "embedding", cp, i0, threshold = 0.99)
      Streams.rmTree(stage); Streams.rmTree(cp)
      val cc = graft.dedup.Dedup
        .connectedComponents(p0.unionByName(streamed))
        .withColumnRenamed("doc_id", "vec_id")
      idx.members.select(col("id").as("vec_id"), col("bucket"))
        .join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket"),
          coalesce(col("cluster"), col("vec_id")).as("cluster"))
        .withColumn("kept", col("cluster") === col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // Cross-corpus near-dup contamination: train = documents; eval =
    // planted exact copies (%13), near copies with an appended marker
    // (%17), and wholly fresh synthetic docs (%5, must NOT match).
    // q84 is the EXACT n-gram-overlap decontamination check; this is
    // its near-dup form — LSH buckets of the train corpus joined
    // against the eval corpus's buckets (never train-vs-train or
    // eval-vs-eval), exact Jaccard on the cross candidates only.
    "q120_cross_contamination" -> ((s, dir) => {
      import graft.sources.Tables
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val ev = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(col("text"), lit(" zz tail marker")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            concat(lit("fresh eval doc "), col("doc_id").cast("string"),
              lit(" with wholly unique content")).as("text")))
      graft.dedup.Dedup.crossCorpusMatches(docs, "doc_id", "text",
          ev, "doc_id", "text")
        .orderBy(col("a"), col("b"))
    }),

    // Span-level contamination provenance: q120 says WHETHER an eval
    // doc near-dups a train doc; this localizes WHERE. Eval plants
    // exact copies (%13), span copies (%17 — the first 24 tokens of a
    // train doc + a fresh continuation; the winnowing guarantee makes
    // any >= w+k-1 = 6-token copied run share a fingerprint), and
    // wholly fresh docs (%5, must not match). Cross-only fp join with
    // the combined-df hot-fingerprint cap; position extents on both
    // sides are the actionable output ("scrub train doc a tokens
    // a_from..a_to").
    "q121_cross_provenance" -> ((s, dir) => {
      import graft.sources.Tables
      import graft.text.{TextAnalysis, Winnow}
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val ev = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            concat(
              concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 24)),
              lit(" wholly fresh continuation appended beyond the span"))
              .as("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            concat(lit("fresh eval doc "), col("doc_id").cast("string"),
              lit(" with wholly unique content tokens")).as("text")))
      val fpsT = Winnow.fingerprints(docs, "doc_id", "text", k = 3, w = 4)
      val fpsE = Winnow.fingerprints(ev, "doc_id", "text", k = 3, w = 4)
      Winnow.crossMatches(fpsT, fpsE, "doc_id", minShared = 2, maxDf = 16)
        .orderBy(col("a"), col("b"))
    }),

    // Mergeable histogram-sketch quantiles — the quantile sibling of
    // the KMV distinct sketch (q77's maintenance pattern for
    // distribution stats): per-(source, lang) doc-length histogram
    // PARTIALS (bounded sketch rows, map-side combinable) merge up to
    // per-source by pure addition, then p25/p50/p90/p99 come off the
    // merged sketch via integer cumulative counts — the oracle builds
    // per-source DIRECTLY, so partial-merge == direct-build is the
    // hash-checked contract. All-integer (rational levels, truncating
    // div), exact to one binWidth.
    "q122_hist_quantiles" -> ((s, dir) => {
      import graft.quality.HistSketch
      import graft.sources.Tables
      val docs = Tables(s, dir, "documents")
        .withColumn("len", length(col("text")).cast("long"))
      val parts = HistSketch.partials(docs, Seq("source", "lang"),
        "len", binWidth = 64)
      val merged = HistSketch.mergeUp(parts, Seq("source"))
      HistSketch.quantiles(merged, Seq("source"), binWidth = 64,
        Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p90", 9L, 10L),
          ("p99", 99L, 100L)))
        .orderBy(col("source"), col("level"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // identical to q20/q97's replay: streaming must not change the answer
    "q118_stream_lsh_ingest" -> {
      import Corpus.{corpusSql, shinglesSql, minhashCtesSql,
        jaccardTailSql}
      s"""WITH $corpusSql,
         |${shinglesSql("corpus")},
         |$minhashCtesSql,
         |${jaccardTailSql("0.5")}""".stripMargin
    },

    // identical to q111's one-shot replay: streamed ingest against the
    // seed-trained centroids must not change the answer
    "q119_stream_semantic_ingest" ->
      Vectors.incrementalSemanticSql,

    // two suffixed shingle/signature chains (train `t`, eval `e`),
    // cross-only candidate join, exact-Jaccard verification
    "q120_cross_contamination" -> {
      import Corpus.{shinglesSql, sigBucketsSql}
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
         |  GROUP BY c.a, c.b)
         |SELECT cm.a, cm.b,
         |  cm.n_common::DOUBLE / (sa.na + sb.nb - cm.n_common) AS jaccard
         |FROM common cm
         |JOIN sizest sa ON sa.doc_id = cm.a
         |JOIN sizese sb ON sb.doc_id = cm.b
         |WHERE cm.n_common::DOUBLE / (sa.na + sb.nb - cm.n_common) >= 0.5
         |ORDER BY a, b""".stripMargin
    },

    // two suffixed winnowing chains, combined-df hot-fp cap, cross-only
    // fp join with shared mass + position extents
    "q121_cross_provenance" -> {
      import Text.winnowFpCtes
      s"""WITH train AS (SELECT doc_id, text FROM documents),
         |ev AS (
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
         |${winnowFpCtes("train", "t")},
         |${winnowFpCtes("ev", "e")},
         |keep AS (SELECT fp FROM (
         |    SELECT fp FROM fpst UNION ALL SELECT fp FROM fpse)
         |  GROUP BY fp HAVING COUNT(*) <= 16),
         |fa AS (SELECT f.* FROM fpst f JOIN keep USING (fp)),
         |fb AS (SELECT f.* FROM fpse f JOIN keep USING (fp))
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared,
         |  MIN(l.pos) AS a_from, MAX(l.pos) AS a_to,
         |  MIN(r.pos) AS b_from, MAX(r.pos) AS b_to
         |FROM fa l JOIN fb r ON l.fp = r.fp
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY a, b""".stripMargin
    },

    // direct per-source build — equal to the engine's partial-merge by
    // the sketch-merge contract; integer cum-count quantile selection
    "q122_hist_quantiles" ->
      s"""WITH h AS (
         |  SELECT source, length(text) // 64 AS bin,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM documents GROUP BY 1, 2),
         |t AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM h GROUP BY 1),
         |c AS (SELECT source, bin, cnt,
         |    SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
         |  FROM h),
         |lv(level, num, den) AS (VALUES
         |  ('p25', 1, 4), ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
         |SELECT c.source, lv.level, CAST(MIN(c.bin) * 64 AS BIGINT) AS est
         |FROM c JOIN t ON t.source = c.source CROSS JOIN lv
         |WHERE c.cum * lv.den >= lv.num * t.n
         |GROUP BY 1, 2
         |ORDER BY c.source, level""".stripMargin
  )
}
