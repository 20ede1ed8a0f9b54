package graft.queries.fixtures

import graft.functions.PortableHash
import graft.sources.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus fixtures: the planted-duplicate corpus over `documents` and
  * the gate, shingle, MinHash, exact-dedup and connected-components
  * oracle CTEs the dedup and pipeline groups compose.
  */
object Corpus {

  /** Planted-duplicate corpus over the full documents table: exact
    * copies of doc_id % 7 = 0 at id + 1M and tail-marked near copies of
    * doc_id % 11 = 0 at id + 2M (the q46 pipeline and dedup input).
    */
  private[queries] def corpus(s: SparkSession, dir: String): DataFrame =
    plant(Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  private[queries] def plant(d: DataFrame): DataFrame =
    d.unionByName(
        d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(
        d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(col("text"), lit(" zz tail marker")).as("text")))

  private[queries] val corpusSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' zz tail marker' FROM documents
      |  WHERE doc_id % 11 = 0)""".stripMargin

  private[queries] val toksExpr =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  /** Quality-score expression over a `text` column — shared by q16 and
    * the q46 pipeline gate so both replay the same arithmetic.
    */
  private[queries] val qualityExprSql =
    s"""(CASE WHEN len($toksExpr) BETWEEN 5 AND 5000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END
       |   + CASE WHEN len(list_filter($toksExpr, t -> list_contains(['the','a','of','and','is'], lower(t))))::DOUBLE
       |         / greatest(len($toksExpr), 1) > 0.01 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END
       |   + CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
       |         / greatest(length(text), 1) < 0.2 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)""".stripMargin

  /** Per-language marker-hit columns + argmax CASE (shared q17 / q46).
    */
  private[queries] val langHitColsSql: String = TextAnalysis.langMarkers.map {
    case (code, words) =>
      "    len(regexp_extract_all(lower(text), '" +
        words.mkString("\\b(", "|", ")\\b") + s"')) AS h_$code"
  }.mkString(",\n")

  private[queries] val langCaseSql =
    """CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
      |       WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
      |       WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
      |       WHEN h_fr >= h_es THEN 'fr'
      |       ELSE 'es' END""".stripMargin

  /** Shared shingle pipeline (docs -> distinct (doc_id, 60-bit shingle
    * hash)) — mirror of Dedup.hashedShingles: the dedup happens on the
    * HASH, exactly as the engine's ShingleHash60 expression dedupes
    * in-expression (distinct-then-hash and hash-then-distinct coincide
    * unless two distinct shingles of one doc collide in 60 bits).
    */
  /** Shingle CTE chain ending in `sh<sfx>(doc_id, shh)`. The `sfx`
    * suffixes every CTE name so two chains (e.g. a train and an eval
    * corpus, q120) can coexist in one statement; "" keeps the original
    * names for the single-corpus oracles.
    */
  private[queries] def shinglesSql(src: String, sfx: String = ""): String =
    s"""toks$sfx AS (SELECT doc_id, $toksExpr AS toks FROM $src),
       |grams$sfx AS (SELECT doc_id,
       |    unnest(CASE WHEN len(toks) >= 3
       |      THEN list_transform(generate_series(1, len(toks)-2),
       |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      ELSE []::VARCHAR[] END) AS shingle
       |  FROM toks$sfx),
       |sh$sfx AS (SELECT DISTINCT doc_id,
       |  ${PortableHash.hash60BaseSql("shingle")} AS shh FROM grams$sfx)""".stripMargin

  /** MinHash signature + LSH bucket CTEs over `sh<sfx>`, ending in
    * `buckets<sfx>(doc_id, band, bucket)` (mirrors Dedup.buckets' row-
    * local signatures and bands: 12 affine hashes, 6 bands x 2).
    */
  private[queries] def sigBucketsSql(sfx: String = ""): String =
    s"""mh$sfx AS (
       |  SELECT doc_id,
       |${(0 until 12).map(i =>
          s"    min(${PortableHash.minhashSql("shh % 2147483647", i)}) AS mh_$i")
          .mkString(",\n")}
       |  FROM sh$sfx GROUP BY doc_id),
       |buckets$sfx AS (
       |  SELECT doc_id,
       |    unnest([0,1,2,3,4,5]) AS band,
       |    unnest([${(0 until 6).map(b =>
            s"md5(mh_${2 * b}::VARCHAR||','||mh_${2 * b + 1}::VARCHAR)")
            .mkString(", ")}]) AS bucket
       |  FROM mh$sfx)""".stripMargin

  /** Signatures + banding + SELF-join candidates over `sh`
    * (mirrors Dedup.minhashCandidates).
    */
  private[queries] def minhashCtesSql: String =
    s"""${sigBucketsSql()},
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM buckets l JOIN buckets r
       |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)""".stripMargin

  /** Exact dedup over `src(doc_id, text, quality, lang_pred)`: `fp`
    * keys each row by the md5 of its lower-cased, punctuation-free,
    * space-collapsed text, `keep` holds the minimum doc_id per key and
    * `ex` the surviving rows.
    */
  private[queries] def exactDedupSql(src: String): String =
    s"""fp AS (SELECT doc_id, text, quality, lang_pred,
       |    md5(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
       |  FROM $src),
       |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
       |ex AS (SELECT fp.* FROM fp WHERE fp.doc_id IN (SELECT doc_id FROM keep))""".stripMargin

  /** q46's stage-1/stage-2 chain as CTE text — row gates (quality +
    * language) then exact dedup — ending in `ex(doc_id, text, quality,
    * lang_pred)`, the gate-and-exact-dedup survivors over `corpus`.
    * Shared by the q46 pipeline replay and the q144 release manifest.
   
    */
  private[queries] val gateExactCtesSql: String =
    s"""scored AS (
       |  SELECT doc_id, text,
       |  $qualityExprSql AS quality,
       |$langHitColsSql
       |  FROM corpus),
       |gated AS (
       |  SELECT doc_id, text, quality,
       |  $langCaseSql AS lang_pred
       |  FROM scored),
       |g2 AS (SELECT doc_id, text, quality, lang_pred FROM gated
       |       WHERE quality >= 0.7::DOUBLE AND lang_pred = 'en'),
       |${exactDedupSql("g2")}""".stripMargin

  /** Per-doc shingle counts `sizes` and per-candidate shared-shingle
    * counts `common` over `cand` and `sh`.
    */
  private val overlapCtesSql: String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT c.a, c.b, count(*) AS n_common
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.a
       |  JOIN sh y ON y.doc_id = c.b AND y.shh = x.shh
       |  GROUP BY c.a, c.b)""".stripMargin

  /** Exact-jaccard verification of `cand` as a `pairs` CTE. */
  private[queries] def pairsCteSql(threshold: String): String =
    s"""$overlapCtesSql,
       |pairs AS (
       |  SELECT cm.a, cm.b
       |  FROM common cm
       |  JOIN sizes sa ON sa.doc_id = cm.a
       |  JOIN sizes sb ON sb.doc_id = cm.b
       |  WHERE cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common)
       |    >= $threshold)""".stripMargin

  private[queries] def jaccardTailSql(threshold: String): String =
    s"""$overlapCtesSql
       |SELECT cm.a, cm.b,
       |  cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common) AS jaccard
       |FROM common cm
       |JOIN sizes sa ON sa.doc_id = cm.a
       |JOIN sizes sb ON sb.doc_id = cm.b
       |WHERE cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common) >= $threshold
       |ORDER BY a, b""".stripMargin

  /** Min-label connected components over `pairs(a, b)`: `edges` in
    * both directions and the recursive `reach(node, lab)`. The query
    * then needs `WITH RECURSIVE`.
    */
  private[queries] val ccReachSql: String =
    """edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b, a FROM pairs),
      |reach(node, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.node)""".stripMargin

  /** [[ccReachSql]] plus `losers(doc_id)`: every node that is not its
    * component's minimum, i.e. the near-duplicates dedup drops.
    */
  private[queries] val ccLosersSql: String =
    s"""$ccReachSql,
       |losers AS (
       |  SELECT node AS doc_id FROM reach
       |  GROUP BY node HAVING node <> min(lab))""".stripMargin

  /** [[ccReachSql]] plus `labels(node, clus)`, each node's component. */
  private[queries] val ccLabelsSql: String =
    s"""$ccReachSql,
       |labels AS (SELECT node, min(lab) AS clus FROM reach GROUP BY node)""".stripMargin

  /** The compact layout of [[ccLabelsSql]] with every relation named
    * after `p`: `${p}edges`, `${p}reach` and `${p}labels` over
    * `${p}pairs`, so several components can share one statement.
    */
  private[queries] def ccCompactSql(p: String): String =
    s"""${p}edges AS (SELECT a AS src, b AS dst FROM ${p}pairs
       |  UNION SELECT b, a FROM ${p}pairs),
       |${p}reach(node, lab) AS (
       |  SELECT src, src FROM ${p}edges
       |  UNION
       |  SELECT e2.dst, r.lab FROM ${p}reach r JOIN ${p}edges e2 ON e2.src = r.node),
       |${p}labels AS (SELECT node, min(lab) AS clus FROM ${p}reach GROUP BY node)""".stripMargin

  /** Row gates over `src(doc_id, text)`: `scored` adds the quality
    * score and the per-language marker hits, `gated` the language
    * argmax, and `g2` keeps quality >= 0.7 English rows.
    */
  private[queries] def rowGatesSql(src: String): String =
    s"""scored AS (
       |  SELECT doc_id, text,
       |  $qualityExprSql AS quality,
       |$langHitColsSql
       |  FROM $src),
       |gated AS (
       |  SELECT doc_id, text, quality,
       |  $langCaseSql AS lang_pred
       |  FROM scored),
       |g2 AS (SELECT doc_id, text, quality, lang_pred FROM gated
       |       WHERE quality >= 0.7::DOUBLE AND lang_pred = 'en')""".stripMargin

  /** Near-dup losers over `src(doc_id, text)`: shingles, MinHash
    * candidates, pairs at Jaccard >= 0.5 and [[ccLosersSql]].
    */
  private[queries] def nearDupLosersSql(src: String): String =
    s"""${shinglesSql(src)},
       |$minhashCtesSql,
       |${pairsCteSql("0.5")},
       |$ccLosersSql""".stripMargin

  /** [[corpusSql]] with each doc's `source` carried along. */
  private[queries] val sourceCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, source, text FROM documents
      |  WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, source, text || ' zz tail marker'
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** The per-source cleaning funnel over `src(doc_id, source, text)`:
    * row gates, exact dedup and near-dup losers, then per source the
    * docs in `corpus`, after the gates, after exact dedup and at the
    * end (q169, and q205 over extracted HTML).
    */
  private[queries] def funnelReportSql(src: String): String =
    s"""scored AS (
       |  SELECT doc_id, source, text,
       |  $qualityExprSql AS quality,
       |$langHitColsSql
       |  FROM $src),
       |gated AS (
       |  SELECT doc_id, source, text, quality,
       |  $langCaseSql AS lang_pred
       |  FROM scored),
       |g2 AS (SELECT doc_id, source, text, quality, lang_pred
       |  FROM gated
       |  WHERE quality >= 0.7::DOUBLE AND lang_pred = 'en'),
       |fp AS (SELECT doc_id, source, text,
       |    md5(trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
       |  FROM g2),
       |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
       |ex AS (SELECT fp.* FROM fp
       |  WHERE fp.doc_id IN (SELECT doc_id FROM keep)),
       |${nearDupLosersSql("ex")},
       |fin AS (SELECT e.doc_id, e.source FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM losers l
       |                    WHERE l.doc_id = e.doc_id)),
       |n0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in
       |  FROM corpus GROUP BY 1),
       |n1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated
       |  FROM g2 GROUP BY 1),
       |n2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
       |  FROM ex GROUP BY 1),
       |n3 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final
       |  FROM fin GROUP BY 1)
       |SELECT n0.source, n0.n_in,
       |  COALESCE(n1.n_gated, 0) AS n_gated,
       |  COALESCE(n2.n_exact, 0) AS n_exact,
       |  COALESCE(n3.n_final, 0) AS n_final
       |FROM n0
       |LEFT JOIN n1 ON n1.source = n0.source
       |LEFT JOIN n2 ON n2.source = n0.source
       |LEFT JOIN n3 ON n3.source = n0.source
       |ORDER BY n0.source""".stripMargin

  /** The cleaned corpus from gated rows `src(doc_id, text, quality,
    * lang_pred)`: exact dedup, then every near-dup loser dropped;
    * selects `(doc_id, quality, lang_pred)` by doc_id.
    */
  private[queries] def cleanSurvivorsSql(src: String): String =
    s"""${exactDedupSql(src)},
       |${nearDupLosersSql("ex")}
       |SELECT e.doc_id, e.quality, e.lang_pred
       |FROM ex e
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
       |ORDER BY e.doc_id""".stripMargin

  /** q46's oracle: row gates, exact dedup, then MinHash pairs and
    * the connected-components losers. The streamed ingest (q126) must
    * equal it, so both declare this text.
    */
  private[queries] val pipelineSql: String =
    s"""WITH RECURSIVE $corpusSql,
       |$gateExactCtesSql,
       |${nearDupLosersSql("ex")}
       |SELECT e.doc_id, e.quality, e.lang_pred
       |FROM ex e
       |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
       |ORDER BY e.doc_id""".stripMargin

  /** q154 feature-space size (hashed unigram+bigram buckets). */
  private[queries] val DsirDim = 256

  /** q154 target keep rate, parts per million. */
  private[queries] val DsirKeepPpm = 500000L

  /** q106's oracle: the packed-sequence manifest. The export index (q170)
    * lists the same sequences, so it declares this too.
    */
  private[queries] val seqManifestSql: String =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS grp,
       |    CAST(len($toksExpr) AS BIGINT) AS n_tok
       |  FROM documents),
       |p AS (SELECT doc_id, grp, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t WHERE n_tok > 0),
       |pl AS (SELECT doc_id, grp, n_tok, cum - n_tok AS start_tok,
       |    (cum - n_tok) // 2048 AS seq_first,
       |    (cum - n_tok) % 2048 AS seq_off,
       |    (cum - 1) // 2048 - (cum - n_tok) // 2048 + 1 AS n_seqs
       |  FROM p),
       |m AS (SELECT grp, s.seq, doc_id,
       |    CASE WHEN s.seq = seq_first THEN 0
       |         ELSE s.seq * 2048 - start_tok END AS doc_from,
       |    LEAST(n_tok, (s.seq + 1) * 2048 - start_tok) AS doc_to,
       |    CASE WHEN s.seq = seq_first THEN seq_off ELSE 0 END AS seq_from
       |  FROM pl, UNNEST(generate_series(seq_first,
       |    seq_first + n_seqs - 1)) AS s(seq))
       |SELECT grp, seq, doc_id, doc_from, doc_to, seq_from FROM m
       |ORDER BY grp, seq, seq_from, doc_id""".stripMargin
}
