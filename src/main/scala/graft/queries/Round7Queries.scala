package graft.queries

import graft.functions.PortableHash
import graft.queries.fixtures.{Corpus, Vectors}
import graft.sources.Tables
import graft.text.TextAnalysis
import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.Media.{bmpMedia, perceptualDedupSql}
import graft.queries.fixtures.Text.{BpeK, bpeCtes, winnowFpCtes}
import graft.queries.fixtures.Vectors.incrementalSemanticSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 generality queries: the forward-looking gaps the round-6
  * verdict ranked — Unicode-canonical text dedup (q109), perceptual
  * image dedup (q110), incremental semantic-dedup ingest (q111), the
  * epoch-sharded loader manifest (q112) — plus BPE tokenizer training
  * and its corpus-scale apply path (q113/q114) and the leakage-safe
  * cluster-keyed train/val/test split (q115). Every query replays
  * bit-identically in the DuckDB oracle.
  */
object Round7Queries extends QueryGroup {

  // Composed vs decomposed spellings of one prefix, planted onto every
  // document: "Café δοκιμή: " with é=U+00E9, ή=U+03AE (NFC), and
  // e+U+0301, η+U+0301 (NFD). Raw bytes differ; NFC folds them
  // together. Identical \u escapes in the Spark literals and the
  // oracle SQL text compile to identical UTF-8 on both engines.
  private[queries] val PrefixNfc = "Caf\u00e9 \u03b4\u03bf\u03ba\u03b9\u03bc\u03ae: "
  private[queries] val PrefixNfd = "Cafe\u0301 \u03b4\u03bf\u03ba\u03b9\u03bc\u03b7\u0301: "

  /** The DuckDB replay of [[TextAnalysis.normalizedUnicode]]. */
  private[queries] def normalizedUnicodeSql(c: String): String =
    "trim(regexp_replace(regexp_replace(" +
      s"lower(nfc_normalize($c)), '[^\\p{L}\\p{N}\\s]', '', 'g'), " +
      "'\\s+', ' ', 'g'))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Unicode-canonical exact dedup: the corpus carries each document
    // twice — once under an NFC spelling of a (partly non-Latin)
    // prefix, once under its NFD decomposition. Byte-level
    // fingerprints would see 2N distinct documents; the NFC canonical
    // form folds each pair onto one fingerprint (n = 2 per group),
    // and the Greek text survives normalization instead of degrading
    // to whitespace. Same shuffle shape as q18: 16-byte fingerprints
    // move, never bodies.
    "q109_unicode_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val composed = docs.select((col("doc_id") * 2).as("rid"),
        concat(lit(PrefixNfc), col("text")).as("t"))
      val decomposed = docs.select((col("doc_id") * 2 + 1).as("rid"),
        concat(lit(PrefixNfd), col("text")).as("t"))
      composed.unionByName(decomposed)
        .withColumn("fp", TextAnalysis.fingerprintUnicode(col("t")))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n"), min(col("rid")).as("first_rid"))
        .select(col("first_rid"), col("n"), col("fp"))
        .orderBy(col("first_rid"))
    }),

    // Perceptual image dedup: the corpus plants, per selected document,
    // a REAL re-encoded copy (decode -> encode; different file bytes,
    // identical pixels), a REAL 2x nearest-neighbor upscale (different
    // pixels, same picture), and a shifted near-variant (pixel phase
    // +8 — close in gradient space, hamming small but nonzero,
    // exercising the verify threshold both ways). dHash over the
    // decoded bitmaps, banded hamming pairs (bucketed, never
    // all-pairs), CC cluster labels. The oracle replays the hash from
    // the generative pixel formulas and the SAME band-limited pair
    // semantics.
    "q110_perceptual_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.multimodal.Perceptual
      Perceptual.clusters(Perceptual.dHashes(bmpMedia(s, dir)), "id",
          "dhash", maxHamming = 6)
        .orderBy(col("id"))
    }),

    // Incremental semantic-dedup ingest: q95's planted corpus (base +
    // exact copies + x2-scaled copies) arrives in THREE batches
    // (vec_id % 3). Centroids train once, on batch 0; batches 1 and 2
    // assign to the STORED centroids and pair only against stored-plus-
    // new bucket members (new x new, new x old — never old x old). The
    // batched pair union feeds one CC; because batching is exactly-
    // once, the oracle replays it as a ONE-SHOT pass against the same
    // batch-0-trained centroids.
    "q111_incremental_semantic" -> ((s, dir) => {
      import graft.similarity.IncrementalSemantic
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val repA = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val repB = emb.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val full = emb.unionByName(repA).unionByName(repB)
      def batch(b: Int) = full.filter(col("vec_id") % 3 === b)
      val (i0, p0) = IncrementalSemantic.build(batch(0), "vec_id",
        "embedding", threshold = 0.99, c = Vectors.IvfC,
        iters = Vectors.IvfIters)
      val (i1, p1) = IncrementalSemantic.addBatch(i0, batch(1), "vec_id",
        "embedding", threshold = 0.99)
      val (i2, p2) = IncrementalSemantic.addBatch(i1, batch(2), "vec_id",
        "embedding", threshold = 0.99)
      val pairs = p0.unionByName(p1).unionByName(p2)
      val cc = graft.dedup.Dedup.connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      i2.members.select(col("id").as("vec_id"), col("bucket"))
        .join(cc, Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket"),
          coalesce(col("cluster"), col("vec_id")).as("cluster"))
        .withColumn("kept", col("cluster") === col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // BPE tokenizer TRAINING: the learn side of the tokenizer surface
    // (q38 is the regex apply-side approximation; q96/q103 budget and
    // shard what a tokenizer emits). One corpus pass reduces to the
    // unique-word frequency dict; each of the 12 merge rounds is a
    // dict-sized distributed pair-count groupBy + a one-row argmax
    // (count DESC, pair ASC — exact integer counts), re-segmenting by
    // LITERAL replace over separator-wrapped symbols (= greedy BPE;
    // see graft.text.Bpe). Output: the learned merge table.
    "q113_bpe_train" -> ((s, dir) => {
      graft.text.Bpe.train(Tables(s, dir, "documents"), "text", BpeK)
        .orderBy(col("rank"))
    }),

    // The apply side of q113 at corpus scale: every word occurrence
    // runs through the rank-ordered merge replace chain (pure codegen
    // string ops — the path new data takes AFTER training), then
    // symbol counts. Top 50 under a total order.
    "q114_bpe_vocab" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, "text", BpeK)
      graft.text.Bpe.vocabCounts(docs, "text", merges)
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),

    // Leakage-safe train/val/test split: assignment hashes the
    // near-dup CLUSTER label (q52's CC over LSH pairs; singletons =
    // own id), so no near-dup pair can straddle splits — the
    // per-document hash split's eval-contamination bug is impossible
    // by construction. Same planted-dup corpus as q52.
    "q115_leakage_safe_split" -> ((s, dir) => {
      val c = Corpus.corpus(s, dir)
      val pairs = graft.dedup.Dedup
        .minhashNearDuplicates(c, "doc_id", "text")
        .select(col("a"), col("b"))
      graft.pipeline.Splits.byCluster(c, "doc_id", pairs)
        .select(col("doc_id"), col("cluster"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (MOSS): positional k-gram hashes, one
    // rightmost-min selection per w-window — any >= (w+k-1)-token
    // match between documents shares a fingerprint, at ~2/(w+1)
    // storage. The (hash, rightmost-pos) choice rides ONE integer
    // min over a packed key, decoded with truncating div on
    // nonnegative terms — identical both engines.
    "q116_winnowing" -> ((s, dir) => {
      graft.text.Winnow.fingerprints(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Cross-document provenance matches from the winnowing relation:
    // fp-keyed self-join (collision-bucketed, never all-pairs; hot
    // boilerplate fps capped at df 16), shared-fingerprint mass and
    // position extents per pair.
    "q117_winnow_matches" -> ((s, dir) => {
      val fps = graft.text.Winnow.fingerprints(
        Tables(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
      graft.text.Winnow.matches(fps, "doc_id", minShared = 2, maxDf = 16)
        .orderBy(col("a"), col("b"))
    }),

    // Epoch-sharded loader manifest: q103's seeded per-epoch
    // permutation deals documents round-robin onto 16 writer shards;
    // each (epoch, shard) stream packs head-to-tail into 2048-token
    // sequences (q91's two-phase prefix sum, grp = epoch*16+shard) and
    // expands to (sequence, document) spans (q106) — the single
    // artifact a distributed loader maps per epoch and shard.
    "q112_epoch_shard_manifest" -> ((s, dir) => {
      graft.pipeline.Packing.epochShardManifest(
        Tables(s, dir, "documents"), "doc_id", "text",
        epochs = 2, nShards = 16, seqLen = 2048)
        .orderBy(col("epoch"), col("shard"), col("seq"), col("seq_from"),
          col("doc_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q109_unicode_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id * 2 AS rid, '$PrefixNfc' || text AS t
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, '$PrefixNfd' || text FROM documents),
         |fps AS (SELECT rid, md5(${normalizedUnicodeSql("t")}) AS fp
         |  FROM corpus)
         |SELECT min(rid) AS first_rid, CAST(count(*) AS BIGINT) AS n, fp
         |FROM fps GROUP BY fp ORDER BY first_rid""".stripMargin,

    // Replays q110 arithmetically: image dims from md5 (q28's pattern),
    // pixel(i) = (id0*2654435761 + i*(i+7) + off) % 256, the 2x upscale as a //sc
    // coordinate map, the 8x8 grayscale grid with truncating integer
    // divisions (nonnegative -> floor == trunc both engines), the
    // 56-bit dHash, 4x14-bit band candidates, hamming<=6 verify, and
    // min-label connected components as a recursive CTE.
    "q110_perceptual_dedup" -> perceptualDedupSql,

    // Replays q111 as a ONE-SHOT pass against batch-0-trained
    // centroids: training CTEs (q42's ivfStepSql) read `qz` = the
    // batch-0 slice of the quantized corpus; assignment, within-bucket
    // exact-cosine pairs, and min-label CC run over the FULL corpus —
    // equal to the batched union because batching is exactly-once.
    "q111_incremental_semantic" -> incrementalSemanticSql,

    "q113_bpe_train" -> {
      val merges = (1 to BpeK).map(i =>
        s"SELECT $i AS rank, lhs, rhs, lhs || rhs AS merged, " +
          s"cnt AS pair_count FROM b$i").mkString("\nUNION ALL ")
      s"""WITH ${bpeCtes(BpeK)}
         |$merges
         |ORDER BY rank""".stripMargin
    },

    "q114_bpe_vocab" ->
      s"""WITH ${bpeCtes(BpeK)}
         |SELECT token, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |  SELECT freq, unnest(list_filter(string_split(seg, chr(31)),
         |    x -> x <> '')) AS token
         |  FROM w$BpeK)
         |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,

    // q52's CC replay + cluster-keyed hash split over the full corpus
    // (unpaired docs fall back to their own id as cluster).
    "q115_leakage_safe_split" -> {
      import Corpus.{shinglesSql, minhashCtesSql, pairsCteSql}
      s"""WITH RECURSIVE ${Corpus.corpusSql},
         |${shinglesSql("corpus")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(node, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |labels AS (SELECT node, min(lab) AS clus FROM reach GROUP BY node),
         |lab AS (SELECT c.doc_id,
         |    COALESCE(l.clus, c.doc_id) AS cluster
         |  FROM corpus c LEFT JOIN labels l ON l.node = c.doc_id),
         |h AS (SELECT doc_id, cluster,
         |    ${PortableHash.hash60BaseSql("cluster::VARCHAR")} % 100 AS hv
         |  FROM lab)
         |SELECT doc_id, cluster,
         |  CASE WHEN hv < 90 THEN 'train'
         |       WHEN hv < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    },

    // Grams via list slices (== the Spark side's lead-window grams),
    // packed-key window min, partial-window fallback for short docs.
    "q116_winnowing" ->
      s"""WITH ${winnowFpCtes()}
         |SELECT doc_id, pos, fp
         |FROM fps ORDER BY doc_id, pos""".stripMargin,

    // fp-keyed self-join of the winnowing relation: shared-mass pairs
    // with position extents on both sides, hot fps capped at df 16.
    "q117_winnow_matches" ->
      s"""WITH ${winnowFpCtes()},
         |keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 16),
         |f AS (SELECT fps.* FROM fps JOIN keep USING (fp))
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared,
         |  MIN(l.pos) AS a_from, MAX(l.pos) AS a_to,
         |  MIN(r.pos) AS b_from, MAX(r.pos) AS b_to
         |FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY a, b""".stripMargin,

    // q103's rank (over tokened docs) + q91's per-stream prefix sum
    // (grp = epoch*16 + shard) + q106's span expansion, recombined.
    "q112_epoch_shard_manifest" ->
      s"""WITH e AS (SELECT unnest([0, 1]) AS epoch),
         |t AS (SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS n_tok
         |  FROM documents),
         |k AS (SELECT d.doc_id, d.n_tok, e.epoch,
         |    ${PortableHash.hash60BaseSql(
               "(e.epoch::VARCHAR || ':' || d.doc_id::VARCHAR)")} AS k
         |  FROM t d CROSS JOIN e WHERE d.n_tok > 0),
         |r AS (SELECT epoch, doc_id, n_tok,
         |    ROW_NUMBER() OVER (ORDER BY epoch, k, doc_id) AS ord
         |  FROM k),
         |sh AS (SELECT *, CAST((ord - 1) % 16 AS INT) AS shard,
         |    epoch * 16 + (ord - 1) % 16 AS grp FROM r),
         |p AS (SELECT *, CAST(SUM(n_tok) OVER (PARTITION BY grp
         |      ORDER BY ord
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum FROM sh),
         |pl AS (SELECT *, cum - n_tok AS start_tok,
         |    (cum - n_tok) // 2048 AS seq_first,
         |    (cum - n_tok) % 2048 AS seq_off,
         |    (cum - 1) // 2048 - (cum - n_tok) // 2048 + 1 AS n_seqs
         |  FROM p),
         |m AS (SELECT epoch, shard, s2.seq, doc_id,
         |    CASE WHEN s2.seq = seq_first THEN 0
         |         ELSE s2.seq * 2048 - start_tok END AS doc_from,
         |    LEAST(n_tok, (s2.seq + 1) * 2048 - start_tok) AS doc_to,
         |    CASE WHEN s2.seq = seq_first THEN seq_off ELSE 0 END AS seq_from
         |  FROM pl, UNNEST(generate_series(seq_first,
         |    seq_first + n_seqs - 1)) AS s2(seq))
         |SELECT epoch, shard, seq, doc_id, doc_from, doc_to, seq_from
         |FROM m ORDER BY epoch, shard, seq, seq_from, doc_id""".stripMargin
  )
}
