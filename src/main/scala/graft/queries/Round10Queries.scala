package graft.queries

import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.Vectors.dotSql
import graft.queries.fixtures.{Corpus, Media, Scd, Streams, Text}
import graft.sources.Tables
import graft.streaming.StreamFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-10 queries: the CONSUMABILITY layer — the binary loader
  * artifact (export/read-back of packed token streams, q170/q171) and
  * release-over-release operations. Every query replays bit-identically
  * in the DuckDB oracle.
  */
object Round10Queries extends QueryGroup {

  /** Small planted corpus for the DOUBLE-release-replay oracles
    * (q172/q173): base = every 4th document, plus the exact-copy and
    * tail-marker replicas (the q46 plant shape). The oracle must replay
    * the whole release chain TWICE (release A = corpus minus the
    * `doc_id % 23 == 5` slice, release B = full corpus), so the corpus
    * is kept small — the oracle scale is arbitrary; the ENGINE path is
    * the full machinery either way.
    */
  private def smallCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .filter(col("doc_id") % 4 === 0)
    base
      .unionByName(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("source")))
      .unionByName(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zz tail marker")).as("text"),
          col("source")))
  }

  private def smallEval(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0 && col("doc_id") % 13 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))

  private def twoReleases(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpus = smallCorpus(s, dir).select(col("doc_id"), col("text"))
    val ev = smallEval(s, dir)
    // the eval set is IDENTICAL for both release replays — its
    // decontamination shingles are materialized once and fed to both
    // chains (the round-18 verdict's shared-eval-chain item; each
    // chain also reuses its own stage shingles for the train side).
    // Round 19: the TRAIN side shares too — release A's corpus is
    // release B's minus one slice, and the gate scan and per-doc
    // shingles are both per-row/per-doc quantities, so they are
    // computed ONCE over the full corpus; chain A takes the filtered
    // gate view, and each chain semi-joins the shared shingle relation
    // down to its own exact-dedup survivors (identical to shingling
    // its own survivors directly).
    val evSh = graft.dedup.Dedup.shingleSets(ev, "doc_id", "text")
      .localCheckpoint()
    val gatedB = graft.pipeline.CorpusPipeline.rowGates(corpus,
        "doc_id", "text", graft.pipeline.CorpusPipeline.Config())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shAll = graft.dedup.Dedup.shingleSets(gatedB, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val relA = graft.pipeline.CorpusPipeline.release(
      corpus.filter(col("doc_id") % 23 =!= 5), ev, "doc_id", "text",
      evalShingles = Some(evSh),
      preGated = Some(gatedB.filter(col("doc_id") % 23 =!= 5)),
      preShingles = Some(shAll))
      .localCheckpoint()
    val relB = graft.pipeline.CorpusPipeline.release(
      corpus, ev, "doc_id", "text", evalShingles = Some(evSh),
      preGated = Some(gatedB), preShingles = Some(shAll))
      .localCheckpoint()
    // both releases are materialized above — evict the shared caches
    // so repeated invocations in a long-lived bench session do not
    // accumulate pinned relations (round-19 ADVICE). Checkpointed
    // blocks of relA/relB are GC-cleaned once unreachable.
    gatedB.unpersist()
    shAll.unpersist()
    (relA, relB)
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ pngQueries

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RELEASE-OVER-RELEASE DIFF through catalog time travel: release A
    // (corpus minus one slice) publishes as one catalog version,
    // release B (full corpus) as the next; releaseDiffAt diffs the two
    // SNAPSHOT READS — no recompute of either release. The diff
    // surfaces knock-on churn, not just the added slice: a new doc can
    // displace an old dedup survivor ('removed'), and new near-dup
    // edges re-cluster docs so the cluster-keyed split hash moves them
    // ('split_moved') — exactly the churn a training run must audit.
    // Oracle: BOTH release chains replayed + the full-outer diff.
    "q172_release_diff" -> ((s, dir) => {
      val (relA, relB) = twoReleases(s, dir)
      Streams.withCatalog(s, "q172") { cat =>
        cat.create("release", relA.schema)
        cat.overwrite("release", relA)
        val vA = cat.currentVersion("release").get
        cat.overwrite("release", relB)
        val vB = cat.currentVersion("release").get
        graft.pipeline.CorpusPipeline
          .releaseDiffAt(cat, "release", vA, vB, "doc_id")
          .orderBy(col("doc_id"))
      }
    }),

    // ...and its per-source roll-up: the release-review dashboard row
    // (adds/removals/split moves/net token delta per source). Source
    // of a replica id is its base document's source.
    "q173_release_diff_sources" -> ((s, dir) => {
      val (relA, relB) = twoReleases(s, dir)
      val diff = graft.pipeline.CorpusPipeline
        .releaseDiff(relA, relB, "doc_id")
      graft.pipeline.CorpusPipeline.releaseDiffSummary(diff,
          smallCorpus(s, dir).select(col("doc_id"), col("source")),
          "doc_id", "source")
        .orderBy(col("source"))
    }),

    // SQL DELETE/UPDATE front door: Spark parses both natively but
    // executes neither outside DSv2 — CatalogSql compiles the parsed
    // plans onto the catalog's copy-on-write publish (DELETE = one
    // filter with ANSI NULL-keeps semantics; UPDATE = one projection
    // with per-column when/otherwise), completing the DML triad with
    // q101's MERGE. Two statements run against a catalog table seeded
    // from documents; the oracle replays both as plain relational SQL.
    "q176_sql_dml" -> ((s, dir) => {
      Streams.withCatalog(s, "q176") { cat =>
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        cat.create("docs_t", docs.schema)
        cat.overwrite("docs_t", docs)
        graft.scd.CatalogSql.execute(s, cat,
          "DELETE FROM docs_t WHERE doc_id % 5 = 3")
        graft.scd.CatalogSql.execute(s, cat,
          "UPDATE docs_t SET text = concat(text, ' [redacted]') " +
            "WHERE source = 'src5'")
        cat.table("docs_t").orderBy(col("doc_id"))
      }
    }),

    // HYBRID RETRIEVAL: BM25 top-50 (q99's ranker) fused with exact
    // cosine top-50 around query vector 0 (q22's ranker) by
    // Reciprocal Rank Fusion — the calibration-free first-stage
    // retriever. Both rankings, the fixed-order two-term 1/(60+r)
    // sums, and the fused top-20 replay bit-identically.
    "q177_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("table", "join", "fast", "query").toDF("term")
      val lex = graft.text.Bm25.rank(Tables(s, dir, "documents"),
          "doc_id", "text", terms, k = 50)
        .select(col("doc_id"), col("rank"))
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val vec = graft.similarity.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding",
          k = 50)
        .select(col("n_id").as("doc_id"), col("rank"))
      graft.similarity.Hybrid.rrf(lex, vec, "doc_id", topK = 20)
        .orderBy(col("rank"))
    }),

    // Per-source CALIBRATED quality gate: keep each source's top 3/4
    // by quality — the per-source quantile threshold as a rank cut
    // (exact where interpolated percentiles are engine-dependent);
    // fixes the absolute-threshold bug where one global cut over-gates
    // sources whose score distribution sits lower. Rank rides the
    // two-phase prefix sum, never a source-sized window funnel.
    "q182_calibrated_gate" -> ((s, dir) => {
      graft.quality.Calibrate.topFractionBySource(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text")),
          "doc_id", "source", "text", keepNum = 3, keepDen = 4)
        .orderBy(col("doc_id"))
    }),

    // CROSS-corpus SPAN scrub: benchmarks leak as PASSAGES quoted
    // inside otherwise-fine documents — dropping whole matched docs
    // (q120's posture) throws the document away; this removes exactly
    // the leaked span. Eval plant: whole-doc copies (matched docs
    // scrub to empty), 12-token prefixes (exactly the prefix run
    // leaves the doc), fresh docs (no effect). Combined-df cap 64
    // guards boilerplate grams.
    "q181_cross_span_scrub" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val ev = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 6000000L).as("doc_id"),
            array_join(slice(graft.text.TextAnalysis.tokens(col("text")),
              1, 12), " ").as("text")))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            concat(lit("fresh eval doc "), col("doc_id").cast("string"),
              lit(" with wholly unique content")).as("text")))
      graft.dedup.Dedup.scrubCrossSpans(docs, "doc_id", "text",
          ev, "doc_id", "text", k = 8, maxDf = 64L)
        .orderBy(col("doc_id"))
    }),

    // RELEASE → EXPORT end to end: the whole production path in one
    // query — clean, dedup, decontaminate, split (q144's verified
    // chain), then the TRAIN slice materializes as the binary loader
    // artifact through the catalog. The oracle replays the release
    // chain AND the tape checksum as one statement: from raw corpus to
    // the bytes a loader maps, every stage bit-certified.
    "q185_release_export" -> ((s, dir) => {
      val corpus = smallCorpus(s, dir).select(col("doc_id"), col("text"))
        .localCheckpoint()
      val rel = graft.pipeline.CorpusPipeline.release(
        corpus, smallEval(s, dir), "doc_id", "text")
      val train = rel.filter(col("split") === "train")
        .select(col("doc_id"))
      val docs = corpus.join(train, Seq("doc_id"), "left_semi")
      Streams.withCatalog(s, "q185") { cat =>
        graft.pipeline.Packing.exportShards(docs, "doc_id", "text", cat,
          "shards", seqLen = 2048, numGroups = 8)
        Streams.tapeSums(cat)
      }
    }),

    // The VOCAB-ID export: the third loader artifact. Real loaders
    // consume (bin, idx, vocab) — q178's hash ids prove the binary
    // chain but no loader maps hashes; here the trained tokenizer's
    // vocabulary (contiguous ids by count DESC, token ASC — the
    // global row number, never a single-partition sort) assigns the
    // ids in the buffers, and the vocab table publishes alongside.
    // Oracle replays training + vocab ranking + tape + checksum.
    "q183_export_vocab_ids" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, "text",
        Text.BpeK)
      val stream = graft.text.Bpe.symbolStream(docs, "doc_id", "text",
        merges)
      val voc = graft.text.Bpe.vocab(docs, "text", merges)
      Streams.withCatalog(s, "q183") { cat =>
        graft.pipeline.Packing.exportShardsOf("doc_id", stream, cat,
          "shards", seqLen = 2048, numGroups = 8,
          vocabIds = Some(voc))
        Streams.tapeSums(cat)
      }
    }),

    // ...and the published vocab table itself, read back: the
    // deterministic id assignment IS the artifact contract (two
    // engines must agree on every (token, id, n) row or the binary
    // buffers mean different text).
    "q184_vocab_table" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, "text",
        Text.BpeK)
      val voc = graft.text.Bpe.vocab(docs, "text", merges)
      Streams.withCatalog(s, "q184") { cat =>
        cat.create("vocab", voc.schema)
        cat.overwrite("vocab", voc)
        cat.table("vocab").orderBy(col("id"))
      }
    }),

    // INCREMENTAL export: a second batch (fresh higher ids, the
    // log-structured ingest shape) appends to the published artifact —
    // complete stored sequences carry verbatim (never decoded), only
    // each group's trailing partial sequence is completed by the new
    // tokens. Oracle = the ONE-SHOT export replay over the union:
    // "appended == exported from scratch", checksummed per sequence.
    "q179_incremental_export" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val batch2 = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Streams.withCatalog(s, "q179") { cat =>
        graft.pipeline.Packing.exportShards(docs, "doc_id", "text", cat,
          "shards", seqLen = 2048, numGroups = 8)
        graft.pipeline.Packing.appendShards("doc_id",
          batch2.select(col("doc_id"),
            posexplode(graft.text.TextAnalysis.tokens(col("text")))
              .as(Seq("pos", "tok"))),
          cat, "shards", seqLen = 2048, numGroups = 8)
        Streams.tapeSums(cat)
      }
    }),

    // ...and the STREAMING door: slices land as files (mtimes pin the
    // arrival order — the export tape is order-DEPENDENT, and the
    // monotone-ids-per-batch contract maps to oldest-first file
    // processing), each micro-batch folds via appendShards. Oracle =
    // the one-shot export over the union of slices, verbatim shape.
    "q180_stream_export" -> ((s, dir) => {
      import java.nio.file.Files
      import java.nio.file.attribute.FileTime
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val root = Files.createTempDirectory("graft-q180").toString
      val land = Files.createTempDirectory("graft-q180-land").toString
      val cp = Files.createTempDirectory("graft-q180-cp").toString
      val cat = new graft.catalog.ParquetCatalog(s, root)
      (0 to 2).foreach { k =>
        val slice = docs.filter(col("doc_id") % 3 === k)
          .select((col("doc_id") + k * 10000000L).as("doc_id"),
            col("text"))
        val tmp = Files.createTempDirectory(s"graft-q180-s$k").toString
        slice.coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (f, i) =>
            val dst = new java.io.File(s"$land/s$k-$i.parquet").toPath
            Files.copy(f.toPath, dst)
            Files.setLastModifiedTime(dst,
              FileTime.fromMillis(1000000000000L + k * 60000L))
          }
        Streams.rmTree(tmp)
      }
      StreamFold[Unit](StreamFold.files(s, land), cp) { (_, batch, _) =>
        graft.pipeline.Packing.appendShards("doc_id",
          batch.select(col("doc_id"),
            posexplode(graft.text.TextAnalysis.tokens(col("text")))
              .as(Seq("pos", "tok"))),
          cat, "shards", seqLen = 2048, numGroups = 8)
      }.getOrElse(throw Streams.noBatch("q180_stream_export"))
      val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
      val out = bin
        .select(col("grp"), col("seq"), col("n_tok"),
          graft.functions.TokenBinary.weightedSumCol(col("tokens"))
            .as("tok_wsum"))
        .orderBy(col("grp"), col("seq"))
        .localCheckpoint()
      Streams.rmTree(root); Streams.rmTree(land)
      Streams.rmTree(cp)
      out
    }),

    // BINARY LOADER EXPORT under the REAL tokenizer: merges trained
    // on the corpus (q113's machinery), the per-doc BPE symbol stream
    // (dictionary-side segmentation, q114's argument) exported through
    // the same exportShardsOf path, read back, and checksummed per
    // sequence. The oracle replays BPE training (12 unrolled rounds),
    // per-occurrence dictionary join, document-order symbol positions,
    // the q91 placement, and the positional weighted sum — training,
    // tokenization, packing, and binary materialization verified as
    // ONE chain.
    "q178_export_bpe" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, "text",
        Text.BpeK)
      val stream = graft.text.Bpe.symbolStream(docs, "doc_id", "text",
        merges)
      Streams.withCatalog(s, "q178") { cat =>
        graft.pipeline.Packing.exportShardsOf("doc_id", stream, cat,
          "shards", seqLen = 2048, numGroups = 8)
        Streams.tapeSums(cat)
      }
    }),

    // BINARY LOADER EXPORT, index side: export the packed corpus
    // through the catalog's atomic publish (bin + idx tables), then
    // read the published .idx back and emit it — the round trip
    // through REAL STORAGE must reproduce q106's manifest VERBATIM
    // (same oracle SQL), proving the artifact a loader maps carries
    // exactly the placement the manifest promised.
    "q170_export_idx" -> ((s, dir) => {
      Streams.withCatalog(s, "q170") { cat =>
        graft.pipeline.Packing.exportShards(
          Tables(s, dir, "documents"), "doc_id", "text", cat, "shards",
          seqLen = 2048, numGroups = 8)
        val (_, idx) = graft.pipeline.Packing.readShards(cat, "shards")
        idx
          .orderBy(col("grp"), col("seq"), col("seq_from"), col("doc_id"))
      }
    }),

    // BINARY LOADER EXPORT, token side: read the published .bin back
    // and checksum every sequence buffer with the order-pinning
    // positional weighted sum Σ (i+1)·id_i — computed FROM THE BYTES
    // by a codegen expression. The oracle never sees a byte of binary:
    // it replays the token tape from raw text (portable md5-derived
    // 31-bit token ids, q91's prefix-sum placement) and computes
    // SUM((off+1)*tid) per sequence. Equality proves the binary
    // encode → parquet publish → decode chain preserves every token
    // id, its order, and the sequence boundaries.
    "q171_export_bin" -> ((s, dir) => {
      Streams.withCatalog(s, "q171") { cat =>
        graft.pipeline.Packing.exportShards(
          Tables(s, dir, "documents"), "doc_id", "text", cat, "shards",
          seqLen = 2048, numGroups = 8)
        Streams.tapeSums(cat)
      }
    })
  )

  /** One full release-chain replay (gates → exact dedup → LSH pairs →
    * CC dedup at 0.5 → eval decontamination → CC split clusters at 0.3
    * → split hash) over `corpus<sfx>`, every CTE suffixed so TWO
    * chains coexist in one statement — ends in `man<sfx>(doc_id,
    * split, n_tok)`. The q144 chain, parameterized.
    */
  private def releaseChain(x: String): String = {
    import Corpus.{langCaseSql, langHitColsSql, qualityExprSql,
      shinglesSql, sigBucketsSql}
    val nTokSql =
      """CAST(len(list_filter(string_split_regex(r.text, '\s+'),
        |    x -> x <> '')) AS BIGINT)""".stripMargin
    val splitHash = graft.functions.PortableHash
      .hash60BaseSql("cluster::VARCHAR")
    s"""scored$x AS (
       |  SELECT doc_id, text,
       |  $qualityExprSql AS quality,
       |$langHitColsSql
       |  FROM corpus$x),
       |gated$x AS (
       |  SELECT doc_id, text, quality,
       |  $langCaseSql AS lang_pred
       |  FROM scored$x),
       |g2$x AS (SELECT doc_id, text, quality, lang_pred FROM gated$x
       |       WHERE quality >= 0.7::DOUBLE AND lang_pred = 'en'),
       |fpc$x AS (SELECT doc_id, text, quality, lang_pred,
       |    md5(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
       |  FROM g2$x),
       |keep$x AS (SELECT min(doc_id) AS doc_id FROM fpc$x GROUP BY f),
       |ex$x AS (SELECT fpc$x.* FROM fpc$x
       |  WHERE doc_id IN (SELECT doc_id FROM keep$x)),
       |${shinglesSql(s"ex$x", x)},
       |${sigBucketsSql(x)},
       |cand$x AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM buckets$x l JOIN buckets$x r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |      AND l.doc_id < r.doc_id),
       |sizes$x AS (SELECT doc_id, count(*) AS n_sh FROM sh$x
       |  GROUP BY doc_id),
       |common$x AS (
       |  SELECT c.a, c.b, count(*) AS n_common
       |  FROM cand$x c
       |  JOIN sh$x sx ON sx.doc_id = c.a
       |  JOIN sh$x sy ON sy.doc_id = c.b AND sy.shh = sx.shh
       |  GROUP BY c.a, c.b),
       |jac$x AS (SELECT cm.a, cm.b,
       |    cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common) AS j
       |  FROM common$x cm
       |  JOIN sizes$x sa ON sa.doc_id = cm.a
       |  JOIN sizes$x sb ON sb.doc_id = cm.b),
       |edges5$x AS (
       |  SELECT a AS src, b AS dst FROM jac$x WHERE j >= 0.5::DOUBLE
       |  UNION SELECT b, a FROM jac$x WHERE j >= 0.5::DOUBLE),
       |reach5$x(node, lab) AS (
       |  SELECT src, src FROM edges5$x
       |  UNION
       |  SELECT e2.dst, r.lab FROM reach5$x r
       |  JOIN edges5$x e2 ON e2.src = r.node),
       |losers5$x AS (
       |  SELECT node AS doc_id FROM reach5$x
       |  GROUP BY node HAVING node <> min(lab)),
       |surv$x AS (SELECT e.* FROM ex$x e
       |  WHERE NOT EXISTS (SELECT 1 FROM losers5$x l
       |    WHERE l.doc_id = e.doc_id)),
       |candx$x AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM buckets$x l JOIN bucketse r
       |    ON l.band = r.band AND l.bucket = r.bucket
       |  WHERE l.doc_id IN (SELECT doc_id FROM surv$x)),
       |commonx$x AS (
       |  SELECT c.a, c.b, count(*) AS n_common
       |  FROM candx$x c
       |  JOIN sh$x sx ON sx.doc_id = c.a
       |  JOIN she sy ON sy.doc_id = c.b AND sy.shh = sx.shh
       |  GROUP BY c.a, c.b),
       |hitx$x AS (SELECT DISTINCT cm.a AS doc_id
       |  FROM commonx$x cm
       |  JOIN sizes$x sa ON sa.doc_id = cm.a
       |  JOIN sizese sb ON sb.doc_id = cm.b
       |  WHERE cm.n_common::DOUBLE / (sa.n_sh + sb.nb - cm.n_common)
       |    >= 0.5::DOUBLE),
       |rel$x AS (SELECT s.* FROM surv$x s
       |  WHERE NOT EXISTS (SELECT 1 FROM hitx$x h
       |    WHERE h.doc_id = s.doc_id)),
       |edges3$x AS (
       |  SELECT a AS src, b AS dst FROM jac$x
       |  WHERE j >= 0.3::DOUBLE
       |    AND a IN (SELECT doc_id FROM rel$x)
       |    AND b IN (SELECT doc_id FROM rel$x)
       |  UNION SELECT b, a FROM jac$x
       |  WHERE j >= 0.3::DOUBLE
       |    AND a IN (SELECT doc_id FROM rel$x)
       |    AND b IN (SELECT doc_id FROM rel$x)),
       |reach3$x(node, lab) AS (
       |  SELECT src, src FROM edges3$x
       |  UNION
       |  SELECT e2.dst, r.lab FROM reach3$x r
       |  JOIN edges3$x e2 ON e2.src = r.node),
       |labels3$x AS (SELECT node, min(lab) AS clus FROM reach3$x
       |  GROUP BY node),
       |mm$x AS (SELECT r.doc_id, COALESCE(l.clus, r.doc_id) AS cluster,
       |    $nTokSql AS n_tok
       |  FROM rel$x r LEFT JOIN labels3$x l ON l.node = r.doc_id),
       |man$x AS (SELECT doc_id,
       |  CASE WHEN $splitHash % 100 < 90 THEN 'train'
       |       WHEN $splitHash % 100 < 95 THEN 'val'
       |       ELSE 'test' END AS split,
       |  n_tok FROM mm$x)""".stripMargin
  }

  /** Planted small corpus + shared eval chain — the preamble every
    * release-replay oracle opens with (q172/q173/q185).
    */
  private lazy val releasePreamble: String = {
    import Corpus.{shinglesSql, sigBucketsSql}
    s"""baseS AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
       |plant AS (
       |  SELECT doc_id, text FROM baseS
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM baseS WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' zz tail marker' FROM baseS
       |  WHERE doc_id % 11 = 0),
       |ev AS (SELECT doc_id + 5000000 AS doc_id, text FROM baseS
       |  WHERE doc_id % 13 = 0),
       |${shinglesSql("ev", "e")},
       |${sigBucketsSql("e")},
       |sizese AS (SELECT doc_id, count(*) AS nb FROM she GROUP BY doc_id)""".stripMargin
  }

  /** Shared CTEs for q172/q173: the preamble, both corpora (A = minus
    * the `% 23 == 5` slice, B = full), both release chains, and the
    * full-outer per-doc diff.
    */
  private lazy val releaseDiffCtes: String = {
    s"""$releasePreamble,
       |corpusa AS (SELECT doc_id, text FROM plant WHERE doc_id % 23 <> 5),
       |corpusb AS (SELECT doc_id, text FROM plant),
       |${releaseChain("a")},
       |${releaseChain("b")},
       |diff AS (
       |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |    CASE WHEN a.doc_id IS NULL THEN 'added'
       |         WHEN b.doc_id IS NULL THEN 'removed'
       |         WHEN a.split <> b.split THEN 'split_moved'
       |         WHEN a.n_tok <> b.n_tok THEN 'changed' END AS op,
       |    a.split AS split_a, b.split AS split_b,
       |    a.n_tok AS n_tok_a, b.n_tok AS n_tok_b
       |  FROM mana a FULL OUTER JOIN manb b ON a.doc_id = b.doc_id)""".stripMargin
  }

  /** q174/q175: the q110 corpus/cluster shape under PNG containers —
    * container format is exactly what must not matter, so both reuse
    * q110's oracle VERBATIM (it replays decoded pixels).
    */
  private def perceptualClusters(media: org.apache.spark.sql
      .Dataset[graft.multimodal.Multimodal.BmpMedia], s: SparkSession)
      : DataFrame = {
    implicit val sp: SparkSession = s
    graft.multimodal.Perceptual.clusters(
        graft.multimodal.Perceptual.dHashes(media), "id", "dhash",
        maxHamming = 6)
      .orderBy(col("id"))
  }

  private val pngQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PNG perceptual dedup: q110's planted corpus (same ids, dims,
    // pixel formulas; re-encoded copy / 2x upscale / phase-shifted
    // variants) carried in REAL PNG containers — zlib-deflated,
    // CRC-checked, filter-decoded by the pure-JVM Png codec — through
    // the UNCHANGED dHash/banded-hamming/CC machinery. Oracle = q110's
    // SQL verbatim: the decoded pixels, and therefore every hash,
    // pair, and cluster, must be identical under the new container.
    "q174_png_perceptual" -> ((s, dir) => {
      perceptualClusters(Media.mediaCorpus(s, dir,
        graft.multimodal.Png.encode _, graft.multimodal.Png.decode _), s)
    }),

    // MIXED-format corpus: every odd-id row of the BMP corpus is
    // re-encoded as PNG (same pixels, different container), then the
    // whole relation flows through ONE door — Multimodal.decodeImage
    // magic-sniffs per payload. A PNG re-encode of a BMP hashes
    // identically, so clusters (and the oracle) are again q110
    // verbatim: format-independent perceptual identity, proven.
    "q175_mixed_format_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      import graft.multimodal.{Bmp, Multimodal, Png}
      val media = Media.bmpMedia(s, dir).mapPartitions(_.map { m =>
        if (m.doc_id % 2 == 1) {
          val p = Png.encode(Bmp.decode(m.payload))
          Multimodal.BmpMedia(m.doc_id, p, p.length)
        } else m
      })
      perceptualClusters(media, s)
    })
  )

  /** The whitespace-export checksum replay (q171's oracle) over an
    * arbitrary corpus CTE named `uc` — shared by q171 (documents),
    * q179 (two-batch union), q180 (three-slice union): the
    * incremental/streaming doors' oracle IS the one-shot export.
    */
  /** The tape + checksum tail over a corpus CTE named `uc`. */
  private lazy val exportWsumCoreSql: String =
    s"""t AS (SELECT doc_id, doc_id % 8 AS grp, $toksExpr AS ts
       |  FROM uc),
       |c AS (SELECT doc_id, grp, CAST(len(ts) AS BIGINT) AS n_tok, ts
       |  FROM t WHERE len(ts) > 0),
       |p AS (SELECT doc_id, grp, ts,
       |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) - n_tok AS start_tok
       |  FROM c),
       |tok AS (SELECT grp, (start_tok + i - 1) // 2048 AS seq,
       |    (start_tok + i - 1) % 2048 AS off,
       |    ${graft.pipeline.Packing.tokenIdSql("ts[i]")} AS tid
       |  FROM p, UNNEST(generate_series(1, len(ts))) AS u(i))
       |SELECT grp, seq, CAST(COUNT(*) AS BIGINT) AS n_tok,
       |  CAST(SUM((off + 1) * tid) AS BIGINT) AS tok_wsum
       |FROM tok GROUP BY grp, seq ORDER BY grp, seq""".stripMargin

  private def exportWsumSql(corpusCte: String): String =
    s"""WITH $corpusCte,
       |$exportWsumCoreSql""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q174_png_perceptual" ->
      Media.perceptualDedupSql,

    "q175_mixed_format_dedup" ->
      Media.perceptualDedupSql,

    "q185_release_export" ->
      s"""WITH RECURSIVE $releasePreamble,
         |corpusb AS (SELECT doc_id, text FROM plant),
         |${releaseChain("b")},
         |uc AS (SELECT c.doc_id, c.text FROM corpusb c
         |  JOIN manb m ON m.doc_id = c.doc_id
         |  WHERE m.split = 'train'),
         |$exportWsumCoreSql""".stripMargin,

    "q183_export_vocab_ids" ->
      s"""WITH ${Text.bpeCtes(Text.BpeK)},
         |${Text.bpeSymsSql},
         |${Text.vocabTapeSql}""".stripMargin,

    "q184_vocab_table" ->
      s"""WITH ${Text.bpeCtes(Text.BpeK)},
         |dt AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |dw AS (SELECT doc_id, ts[i] AS word
         |  FROM dt, UNNEST(generate_series(1, len(ts))) AS u(i)),
         |ws AS (SELECT d.doc_id,
         |    list_filter(string_split(w.seg, chr(31)), x -> x <> '')
         |      AS syms
         |  FROM dw d JOIN w${Text.BpeK} w USING (word)),
         |sy AS (SELECT syms[j] AS sym
         |  FROM ws, UNNEST(generate_series(1, len(syms))) AS u(j)),
         |vc AS (SELECT sym AS token, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM sy GROUP BY sym)
         |SELECT token,
         |  ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS id, n
         |FROM vc ORDER BY id""".stripMargin,

    "q182_calibrated_gate" -> {
      import Corpus.qualityExprSql
      s"""WITH scored AS (SELECT doc_id, source,
         |  $qualityExprSql AS quality
         |  FROM documents),
         |r AS (SELECT doc_id, source, quality,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS src_rank,
         |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |  FROM scored)
         |SELECT doc_id, source, quality, src_rank, n_src,
         |  ((src_rank - 1) * 4 < n_src * 3) AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q181_cross_span_scrub" ->
      s"""WITH ev AS (
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + 6000000,
         |    array_to_string(($toksExpr)[1:12], ' ')
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL
         |  SELECT doc_id + 7000000, 'fresh eval doc ' || doc_id::VARCHAR
         |    || ' with wholly unique content'
         |  FROM documents WHERE doc_id % 5 = 0),
         |tts AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |tg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    md5(array_to_string(ts[i:i+7], ' ')) AS gram
         |  FROM tts, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
         |ets AS (SELECT doc_id, $toksExpr AS ts FROM ev),
         |eg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |    md5(array_to_string(ts[i:i+7], ' ')) AS gram
         |  FROM ets, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
         |capok AS (SELECT gram FROM (
         |    SELECT gram FROM tg UNION ALL SELECT gram FROM eg)
         |  GROUP BY gram HAVING COUNT(*) <= 64),
         |cont AS (SELECT DISTINCT gram FROM eg
         |  WHERE gram IN (SELECT gram FROM capok)),
         |dp AS (SELECT doc_id, pos FROM tg
         |  WHERE gram IN (SELECT gram FROM cont)),
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
         |  FROM tts, UNNEST(generate_series(1, len(ts))) AS u(i)),
         |kept AS (SELECT k.doc_id, k.p, k.tok FROM toks k
         |  WHERE NOT EXISTS (SELECT 1 FROM ranges r
         |    WHERE r.doc_id = k.doc_id AND k.p >= r.f AND k.p < r.t)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text
         |  FROM kept GROUP BY doc_id)
         |SELECT c.doc_id, COALESCE(a.text, '') AS text
         |FROM documents c LEFT JOIN agg a USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,

    "q176_sql_dml" -> Scd.dmlSql,

    "q177_hybrid_rrf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS token
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |  FROM toks GROUP BY doc_id),
         |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot, COUNT(*) AS nd
         |  FROM dl),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks
         |  WHERE token IN ('table', 'join', 'fast', 'query')
         |  GROUP BY doc_id, token),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |sc AS (SELECT t.doc_id, t.token,
         |    ((CAST(st.nd AS DOUBLE) - d.df + 0.5::DOUBLE)
         |      / (d.df + 0.5::DOUBLE))
         |    * (t.tf * 2.2::DOUBLE)
         |    / (t.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE
         |        * (l.dl / (CAST(st.tot AS DOUBLE)
         |                   / CAST(st.nd AS DOUBLE))))) AS score
         |  FROM tf t
         |  JOIN dfreq d USING (token)
         |  JOIN dl l USING (doc_id)
         |  CROSS JOIN st),
         |pd AS (SELECT doc_id,
         |    list_reduce([0.0::DOUBLE] || list(score ORDER BY token),
         |      (x, y) -> x + y) AS bm25
         |  FROM sc GROUP BY doc_id),
         |lex AS (SELECT doc_id, rank FROM (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM pd WHERE bm25 > 0) t WHERE rank <= 50),
         |emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |qv AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
         |cosr AS (SELECT c.vec_id AS doc_id,
         |    ${dotSql("q.qe", "c.e")}
         |      / sqrt(${dotSql("q.qe", "q.qe")}
         |           * ${dotSql("c.e", "c.e")}) AS cosine
         |  FROM qv q, emb c WHERE c.vec_id <> 0),
         |vtop AS (SELECT doc_id, rank FROM (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rank
         |  FROM cosr) t WHERE rank <= 50),
         |fus AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
         |    l.rank AS rank_a, v.rank AS rank_b,
         |    COALESCE(1.0::DOUBLE / (60.0::DOUBLE + l.rank), 0.0::DOUBLE)
         |      + COALESCE(1.0::DOUBLE / (60.0::DOUBLE + v.rank),
         |          0.0::DOUBLE) AS rrf
         |  FROM lex l FULL OUTER JOIN vtop v ON l.doc_id = v.doc_id)
         |SELECT doc_id, rank_a, rank_b, rrf, rank FROM (
         |  SELECT doc_id, rank_a, rank_b, rrf,
         |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fus) t
         |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    "q178_export_bpe" ->
      s"""WITH ${Text.bpeCtes(Text.BpeK)},
         |${Text.bpeSymsSql},
         |${Text.symTapeSql}""".stripMargin,

    "q172_release_diff" ->
      s"""WITH RECURSIVE $releaseDiffCtes
         |SELECT doc_id, op, split_a, split_b, n_tok_a, n_tok_b
         |FROM diff WHERE op IS NOT NULL ORDER BY doc_id""".stripMargin,

    "q173_release_diff_sources" ->
      s"""WITH RECURSIVE $releaseDiffCtes,
         |srcmap AS (
         |  SELECT doc_id, source FROM documents WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, source FROM documents
         |  WHERE doc_id % 4 = 0 AND doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000, source FROM documents
         |  WHERE doc_id % 4 = 0 AND doc_id % 11 = 0)
         |SELECT s.source,
         |  CAST(SUM(CASE WHEN op = 'added' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_added,
         |  CAST(SUM(CASE WHEN op = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed,
         |  CAST(SUM(CASE WHEN op = 'split_moved' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_split_moved,
         |  CAST(SUM(COALESCE(n_tok_b, 0) - COALESCE(n_tok_a, 0))
         |    AS BIGINT) AS tok_delta
         |FROM diff d JOIN srcmap s USING (doc_id)
         |WHERE d.op IS NOT NULL
         |GROUP BY s.source ORDER BY s.source""".stripMargin,
    // the export/import round trip IS the oracle: q106's manifest SQL
    // verbatim (the artifact's idx must match the manifest it claims
    // to materialize)
    "q170_export_idx" -> Corpus.seqManifestSql,

    "q171_export_bin" -> exportWsumSql(
      "uc AS (SELECT doc_id, text FROM documents)"),

    // one-shot replay over the two-batch union — "appended == exported
    // from scratch"
    "q179_incremental_export" -> exportWsumSql(
      """uc AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 2 = 0)""".stripMargin),

    // one-shot replay over the three-slice union — "streamed ==
    // exported from scratch" under the pinned arrival order
    "q180_stream_export" -> exportWsumSql(
      """uc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 20000000, text FROM documents
        |  WHERE doc_id % 3 = 2)""".stripMargin)
  )
}
