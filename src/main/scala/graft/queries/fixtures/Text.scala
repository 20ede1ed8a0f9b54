package graft.queries.fixtures

import graft.functions.PortableHash
import graft.queries.fixtures.Corpus.{corpusSql, langCaseSql, langHitColsSql,
  qualityExprSql, toksExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tokenizer and text fixtures: BPE, unigram and winnowing oracle
  * replays, planted held-out text, the cipher and CJK corpora.
  */
object Text {

  /** q113/q114 merge-round count, shared by engine calls and oracle. */
  private[queries] val BpeK = 12

  /** The DuckDB replay of [[graft.text.Bpe.trainMerges]]: w0 = the
    * unique-word dict with per-char separator-wrapped segmentation;
    * each round i: pair counts from w(i-1) (correlated UNNEST over
    * adjacent symbol positions), the argmax row b(i) (count DESC, pair
    * ASC), and w(i) = literal replace of the wrapped pair — the same
    * greedy-BPE-as-string-replace semantics as the Spark side.
    */
  private[queries] def bpeCtes(k: Int,
      src: String = "documents"): String = {
    // MATERIALIZED is load-bearing: w(i) and b(i) are each referenced
    // twice, so DuckDB's default CTE inlining would expand the chain
    // to 2^k copies of the documents scan (observed: "Too many open
    // files" at k=12). Materializing each round keeps it linear.
    val sep = "chr(31)"
    val init =
      s"""w0 AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         |    list_reduce(list_transform(generate_series(1, length(word)),
         |      i -> $sep || word[i] || $sep), (a, b) -> a || b) AS seg
         |  FROM (SELECT unnest($toksExpr) AS word FROM $src)
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT syms[j] AS lhs, syms[j + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq,
         |      list_filter(string_split(seg, $sep), x -> x <> '') AS syms
         |    FROM w${i - 1}),
         |    UNNEST(generate_series(1, len(syms) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$i
         |  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1),
         |${mergeRoundSql(s"w$i", "word, freq", s"b$i", s"w${i - 1}")}""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** The DuckDB replay of [[graft.text.Winnow.fingerprints]] at
    * k=3, w=4 over `src`: CTE chain ending in
    * `fps<sfx>(doc_id, pos, fp)`. Shared by q116/q117 (defaults, one
    * chain) and q121 (two suffixed chains in one statement).
    */
  private[queries] def winnowFpCtes(src: String = "documents",
      sfx: String = ""): String =
    s"""t$sfx AS (SELECT doc_id, $toksExpr AS toks FROM $src),
       |g$sfx AS (SELECT doc_id, u.i - 1 AS pos,
       |    ${PortableHash.hash60BaseSql(
             "array_to_string(toks[u.i:u.i+2], ' ')")} % 1099511627776 AS gh
       |  FROM t$sfx, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
       |  WHERE len(toks) >= 3),
       |keyed$sfx AS (SELECT doc_id, pos,
       |    gh * 4194304 + (4194303 - pos) AS key,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS m,
       |    MIN(gh * 4194304 + (4194303 - pos)) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
       |    COUNT(*) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS nf
       |  FROM g$sfx),
       |sel$sfx AS (SELECT DISTINCT doc_id, wmin FROM keyed$sfx
       |  WHERE nf = 4 OR (m < 4 AND pos = 0)),
       |fps$sfx AS MATERIALIZED (SELECT doc_id,
       |  CAST(4194303 - (wmin % 4194304) AS BIGINT) AS pos,
       |  CAST(wmin // 4194304 AS BIGINT) AS fp
       |FROM sel$sfx)""".stripMargin

  /** q160's full replay — also q166/q167's oracle VERBATIM (the
    * merged count store over any batching must reproduce every
    * score).
   
    */
  private[queries] val backoff160Sql: String =
    s"""WITH d AS (SELECT doc_id,
         |    CAST(substr(source, 4) AS INT) AS srcnum,
         |    $toksExpr AS t
         |  FROM documents),
         |trp AS (SELECT doc_id, t FROM d WHERE srcnum % 2 = 0),
         |scp AS (SELECT doc_id, t FROM d WHERE srcnum % 2 = 1),
         |c3 AS (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3,
         |    CAST(COUNT(*) AS BIGINT) AS ct
         |  FROM trp, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
         |  GROUP BY g3),
         |c2 AS (SELECT t[i] || ' ' || t[i+1] AS g2,
         |    CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM trp, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
         |  GROUP BY g2),
         |c1 AS (SELECT t[i] AS g1, CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM trp, UNNEST(generate_series(1, len(t))) AS u(i)
         |  GROUP BY g1),
         |n AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n_total FROM trp),
         |pos AS (SELECT doc_id, t[i] AS p2, t[i+1] AS p1, t[i+2] AS w
         |  FROM scp, UNNEST(generate_series(1, len(t) - 2)) AS u(i)),
         |sc AS (SELECT p.doc_id,
         |    CASE WHEN t3.ct IS NOT NULL THEN t3.ct * 1000000 // cbp.c2
         |      WHEN bb.c2 IS NOT NULL THEN bb.c2 * 400000 // up.c1
         |      WHEN uw.c1 IS NOT NULL THEN uw.c1 * 160000 // n.n_total
         |      ELSE CAST(0 AS BIGINT) END AS score
         |  FROM pos p
         |  LEFT JOIN c3 t3 ON t3.g3 = p.p2 || ' ' || p.p1 || ' ' || p.w
         |  LEFT JOIN c2 cbp ON cbp.g2 = p.p2 || ' ' || p.p1
         |  LEFT JOIN c2 bb ON bb.g2 = p.p1 || ' ' || p.w
         |  LEFT JOIN c1 up ON up.g1 = p.p1
         |  LEFT JOIN c1 uw ON uw.g1 = p.w
         |  CROSS JOIN n)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ctx,
         |  CAST(SUM(score) AS BIGINT) AS score_sum,
         |  CAST(CAST(SUM(score) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS score_mean
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- unigram-LM tokenizer oracle (q198-q200) -----------------------
  // Mirror of graft.text.Unigram: integer costs, fixed-width (Lmax=4)
  // Viterbi as a recursive CTE — one row per word per position, the
  // last four positions' (cost, pieces, seg) carried as columns, the
  // argmin a CASE chain over row-value comparisons (cost, pieces, l).
  // Column lists on the dp CTEs keep the dump-time materializer off
  // recursive members.

  private val UInf = "1099511627776" // 2^40 — UnigramOps.Inf

  /** Base relations: word dict, char alphabet, seed substring counts. */
  private def unigramBaseCtes(src: String): String =
    s"""wd AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (SELECT unnest($toksExpr) AS word FROM $src) t GROUP BY word),
       |wpos AS (SELECT word, freq, unnest(generate_series(1, length(word))) AS i FROM wd),
       |chars AS (SELECT DISTINCT substr(word, i, 1) AS piece FROM wpos),
       |subs AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT p.freq, substr(p.word, p.i, ls.l) AS piece
       |    FROM wpos p CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS l) ls
       |    WHERE p.i + ls.l - 1 <= length(p.word)) t
       |  GROUP BY piece)""".stripMargin

  /** One inventory round: prune `countsRel` to top `keep` (+ single
    * chars), recompute integer costs from the kept total.
    */
  private def unigramRoundCtes(sfx: String, countsRel: String,
      keep: Int): String =
    s"""top$sfx AS (SELECT piece, cnt FROM $countsRel ORDER BY cnt DESC, piece ASC LIMIT $keep),
       |invm$sfx AS (SELECT piece, MAX(cnt) AS cnt FROM (SELECT piece, cnt FROM top$sfx UNION ALL SELECT c.piece, coalesce(s.cnt, CAST(0 AS BIGINT)) AS cnt FROM chars c LEFT JOIN $countsRel s ON s.piece = c.piece) tu GROUP BY piece),
       |nn$sfx AS (SELECT CAST(coalesce(SUM(cnt), 0) AS BIGINT) AS n FROM invm$sfx),
       |inv$sfx AS (SELECT piece, cnt, CAST(length(bin((SELECT n FROM nn$sfx))) - length(bin(greatest(cnt, CAST(1 AS BIGINT)))) AS BIGINT) AS cost FROM invm$sfx),
       |unk$sfx AS (SELECT CAST(length(bin(n)) + 1 AS BIGINT) AS uc FROM nn$sfx)""".stripMargin

  /** The Viterbi DP over `wd` under inventory `inv<invSfx>` — the
    * validated fixed-window recursion (see Unigram scaladoc). The
    * column list keeps recursive members out of the CTE materializer.
    */
  private def unigramDpCte(sfx: String, invSfx: String): String = {
    val inf = s"CAST($UInf AS BIGINT)"
    s"""dp$sfx(word, len, pos, c1, p1, s1, c2, p2, s2, c3, p3, s3, c4, p4, s4) AS (
       |  SELECT word, length(word), 0, CAST(0 AS BIGINT), 0, '', $inf, 0, '', $inf, 0, '', $inf, 0, ''
       |  FROM wd
       |  UNION ALL
       |  SELECT word, len, pos + 1,
       |    CASE best WHEN 1 THEN c1 + k1 WHEN 2 THEN c2 + k2 WHEN 3 THEN c3 + k3 ELSE c4 + k4 END,
       |    CASE best WHEN 1 THEN p1 + 1 WHEN 2 THEN p2 + 1 WHEN 3 THEN p3 + 1 ELSE p4 + 1 END,
       |    CASE best WHEN 1 THEN s1 || chr(31) || g1 WHEN 2 THEN s2 || chr(31) || g2 WHEN 3 THEN s3 || chr(31) || g3 ELSE s4 || chr(31) || g4 END,
       |    c1, p1, s1, c2, p2, s2, c3, p3, s3
       |  FROM (
       |    SELECT *,
       |      CASE
       |        WHEN (c1 + k1, p1 + 1, 1) <= (c2 + k2, p2 + 1, 2) AND (c1 + k1, p1 + 1, 1) <= (c3 + k3, p3 + 1, 3) AND (c1 + k1, p1 + 1, 1) <= (c4 + k4, p4 + 1, 4) THEN 1
       |        WHEN (c2 + k2, p2 + 1, 2) <= (c3 + k3, p3 + 1, 3) AND (c2 + k2, p2 + 1, 2) <= (c4 + k4, p4 + 1, 4) THEN 2
       |        WHEN (c3 + k3, p3 + 1, 3) <= (c4 + k4, p4 + 1, 4) THEN 3
       |        ELSE 4 END AS best
       |    FROM (
       |      SELECT d.word, d.len, d.pos,
       |        d.c1, d.p1, d.s1, d.c2, d.p2, d.s2, d.c3, d.p3, d.s3, d.c4, d.p4, d.s4,
       |        substr(d.word, d.pos + 1, 1) AS g1,
       |        substr(d.word, d.pos, 2) AS g2,
       |        substr(d.word, d.pos - 1, 3) AS g3,
       |        substr(d.word, d.pos - 2, 4) AS g4,
       |        coalesce(CAST(i1.cost AS BIGINT), (SELECT CAST(uc AS BIGINT) FROM unk$invSfx)) AS k1,
       |        CASE WHEN d.pos >= 1 AND i2.cost IS NOT NULL THEN CAST(i2.cost AS BIGINT) ELSE $inf END AS k2,
       |        CASE WHEN d.pos >= 2 AND i3.cost IS NOT NULL THEN CAST(i3.cost AS BIGINT) ELSE $inf END AS k3,
       |        CASE WHEN d.pos >= 3 AND i4.cost IS NOT NULL THEN CAST(i4.cost AS BIGINT) ELSE $inf END AS k4
       |      FROM dp$sfx d
       |      LEFT JOIN inv$invSfx i1 ON i1.piece = substr(d.word, d.pos + 1, 1)
       |      LEFT JOIN inv$invSfx i2 ON i2.piece = substr(d.word, d.pos, 2)
       |      LEFT JOIN inv$invSfx i3 ON i3.piece = substr(d.word, d.pos - 1, 3)
       |      LEFT JOIN inv$invSfx i4 ON i4.piece = substr(d.word, d.pos - 2, 4)
       |      WHERE d.pos < d.len) t) u)""".stripMargin
  }

  /** Freq-weighted piece counts from dp<sfx>'s final segmentations. */
  private def unigramCountCtes(sfx: String, dpSfx: String): String =
    s"""segs$sfx AS (SELECT w.freq, d.s1 FROM dp$dpSfx d JOIN wd w USING (word) WHERE d.pos = d.len),
       |cnt$sfx AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (SELECT freq, unnest(string_split(s1, chr(31))) AS piece FROM segs$sfx) t WHERE piece <> '' GROUP BY piece)""".stripMargin

  /** The full 2-round training chain (seed -> EM -> EM), ending in
    * `inv2(piece, cnt, cost)` + `dp2` ready for apply-side CTEs.
    */
  private[queries] def unigramTrainCtes(src: String): String =
    s"""${unigramBaseCtes(src)},
       |${unigramRoundCtes("0", "subs", 256)},
       |${unigramDpCte("0", "0")},
       |${unigramCountCtes("1", "0")},
       |${unigramRoundCtes("1", "cnt1", 128)},
       |${unigramDpCte("1", "1")},
       |${unigramCountCtes("2", "1")},
       |${unigramRoundCtes("2", "cnt2", 128)},
       |${unigramDpCte("2", "2")}""".stripMargin

  /** q232's OOV plant, shared verbatim with its oracle (and q243's —
    * the byte-fallback twin encodes the same held-out corpus).
    */
  private[queries] val PlantedHeldOut = "zeta vortex quiz oxbow the of and zax"

  /** The five CJK transport classes: canonical WHATWG name, the JDK
    * superset codec [[graft.sources.Warc.decodeBody]] routes it to,
    * the two-codepoint plant ('a'→first, 'e'→second — both OUTSIDE
    * ASCII, so a decode through the wrong codec corrupts every one),
    * and the rotating label aliases (every alias must normalize or its
    * docs' plants decode as mojibake and the class's clean count
    * dies).
    */
  private[graft] val CjkClasses: Array[(String, String, String, Array[String])] =
    Array(
      ("shift_jis", "windows-31j", "日本", // 日本
        Array("shift_jis", "sjis", "ms_kanji", "windows-31j", "x-sjis")),
      ("euc-jp", "EUC-JP", "仮名", // 仮名
        Array("euc-jp", "x-euc-jp", "cseucpkdfmtjapanese")),
      ("gbk", "GBK", "中文", // 中文
        Array("gbk", "gb2312", "chinese", "csgb2312", "iso-ir-58")),
      ("big5", "Big5", "漢字", // 漢字
        Array("big5", "big5-hkscs", "cn-big5", "csbig5")),
      ("euc-kr", "x-windows-949", "한글", // 한글
        Array("euc-kr", "korean", "ks_c_5601-1987", "windows-949")))

  /** Substitution cipher over the corpus alphabet a–y (reversed):
    * statistically a different "language" — every character trigram
    * changes — while length/punctuation stay identical, so the
    * quality gate keeps it and only a LANGUAGE gate can see it.
    */
  private[queries] def cipher(t: Column): Column =
    translate(t, "abcdefghijklmnopqrstuvwxy", "yxwvutsrqponmlkjihgfedcba")

  private[queries] val CipherSql =
    "translate(text, 'abcdefghijklmnopqrstuvwxy', 'yxwvutsrqponmlkjihgfedcba')"

  /** One BPE merge round over a separator-wrapped `(word, ..., seg)`
    * dictionary: `out` selects `cols` from `prev` with the pair in
    * `merge(lhs, rhs)` fused by literal replace, exactly
    * [[graft.text.Bpe.segment]]'s semantics.
    */
  private[queries] def mergeRoundSql(out: String, cols: String,
      merge: String, prev: String): String = {
    val sep = "chr(31)"
    s"""$out AS MATERIALIZED (SELECT $cols, replace(seg,
       |    (SELECT $sep || lhs || $sep || $sep || rhs || $sep FROM $merge),
       |    (SELECT $sep || lhs || rhs || $sep FROM $merge)) AS seg
       |  FROM $prev)""".stripMargin
  }

  /** The held-out BPE chain (q232, q243, q258): [[bpeCtes]] trained on
    * the doc_id % 3 <> 0 slice `trainc`, its vocab `vid` (1-based by
    * count DESC, token), and the held-out slice `heldc` plus one
    * planted doc `(plantId, plant)`, segmented by the same merges
    * through `hw1..hwK` into `syh(doc_id, wpos, spos, sym)`.
    */
  private[queries] def heldOutSymsSql(plantId: Long, plant: String)
      : String = {
    val sep = "chr(31)"
    val applyRounds = (1 to BpeK)
      .map(i => mergeRoundSql(s"hw$i", "word", s"b$i", s"hw${i - 1}"))
      .mkString(",\n")
    s"""trainc AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       |heldc AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT $plantId, '$plant'),
       |${bpeCtes(BpeK, "trainc")},
       |dtt AS (SELECT doc_id, $toksExpr AS ts FROM trainc),
       |dwt AS (SELECT doc_id, ts[i] AS word
       |  FROM dtt, UNNEST(generate_series(1, len(ts))) AS u(i)),
       |syt AS (SELECT unnest(list_filter(
       |    string_split(w.seg, $sep), x -> x <> '')) AS sym
       |  FROM dwt d JOIN w${BpeK} w USING (word)),
       |vc AS (SELECT sym AS token, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM syt GROUP BY sym),
       |vid AS (SELECT token,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS vid
       |  FROM vc),
       |hw0 AS MATERIALIZED (
       |  SELECT word,
       |    list_reduce(list_transform(generate_series(1, length(word)),
       |      i -> $sep || word[i] || $sep), (a, b) -> a || b) AS seg
       |  FROM (SELECT DISTINCT unnest($toksExpr) AS word FROM heldc)),
       |$applyRounds,
       |dth AS (SELECT doc_id, $toksExpr AS ts FROM heldc),
       |dwh AS (SELECT doc_id, i AS wpos, ts[i] AS word
       |  FROM dth, UNNEST(generate_series(1, len(ts))) AS u(i)),
       |wsh AS (SELECT d.doc_id, d.wpos,
       |    list_filter(string_split(h.seg, $sep), x -> x <> '') AS syms
       |  FROM dwh d JOIN hw${BpeK} h USING (word)),
       |syh AS (SELECT doc_id, wpos, j AS spos, syms[j] AS sym
       |  FROM wsh, UNNEST(generate_series(1, len(syms))) AS u(j))""".stripMargin
  }

  /** `documents` split into words `dw(doc_id, wpos, word)`, the
    * segmentation `ws` (a CTE producing `(doc_id, wpos, syms)`) and
    * its symbols `sy(doc_id, wpos, spos, sym)`.
    */
  private def docSymsSql(ws: String): String =
    s"""dt AS (SELECT doc_id, $toksExpr AS ts FROM documents),
       |dw AS (SELECT doc_id, i AS wpos, ts[i] AS word
       |  FROM dt, UNNEST(generate_series(1, len(ts))) AS u(i)),
       |$ws,
       |sy AS (SELECT doc_id, wpos, j AS spos, syms[j] AS sym
       |  FROM ws, UNNEST(generate_series(1, len(syms))) AS u(j))""".stripMargin

  /** [[docSymsSql]] through a `uws(word, syms)` dictionary. */
  private[queries] val dictSymsSql: String = docSymsSql(
    """ws AS (SELECT d.doc_id, d.wpos, w.syms
      |  FROM dw d JOIN uws w USING (word))""".stripMargin)

  /** [[docSymsSql]] through the trained merges, `w<BpeK>` of
    * [[bpeCtes]].
    */
  private[queries] val bpeSymsSql: String = docSymsSql(
    s"""ws AS (SELECT d.doc_id, d.wpos,
       |    list_filter(string_split(w.seg, chr(31)), x -> x <> '')
       |      AS syms
       |  FROM dw d JOIN w$BpeK w USING (word))""".stripMargin)

  /** Sequence packing of the symbols `sy(doc_id, wpos, spos, sym)`:
    * `g` numbers each doc's symbols, `cnt` counts them, and `p` gives
    * each doc its start token within its group (doc_id % 8).
    */
  private val symPackSql: String =
    """g AS (SELECT doc_id, sym,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY wpos, spos) - 1 AS gpos
      |  FROM sy),
      |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
      |  FROM g GROUP BY doc_id),
      |p AS (SELECT doc_id, doc_id % 8 AS grp, n_tok,
      |    CAST(SUM(n_tok) OVER (PARTITION BY doc_id % 8
      |      ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) - n_tok AS start_tok
      |  FROM cnt)""".stripMargin

  private val tapeSumsSql: String =
    """SELECT grp, seq, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(SUM((off + 1) * tid) AS BIGINT) AS tok_wsum
      |FROM tok GROUP BY grp, seq ORDER BY grp, seq""".stripMargin

  /** The hash-id token tape of `sy` at 2048-token sequences, as
    * per-sequence token counts and position-weighted id sums.
    */
  private[queries] val symTapeSql: String =
    s"""$symPackSql,
       |tok AS (SELECT p.grp, (p.start_tok + g.gpos) // 2048 AS seq,
       |    (p.start_tok + g.gpos) % 2048 AS off,
       |    ${graft.pipeline.Packing.tokenIdSql("g.sym")} AS tid
       |  FROM g JOIN p USING (doc_id))
       |$tapeSumsSql""".stripMargin

  /** [[symTapeSql]] with vocab ids: `vid` numbers the symbols by count
    * DESC, token from 0.
    */
  private[queries] val vocabTapeSql: String =
    s"""vc AS (SELECT sym AS token, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM sy GROUP BY sym),
       |vid AS (SELECT token,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS vid
       |  FROM vc),
       |$symPackSql,
       |tok AS (SELECT p.grp, (p.start_tok + g.gpos) // 2048 AS seq,
       |    (p.start_tok + g.gpos) % 2048 AS off, v.vid AS tid
       |  FROM g JOIN p USING (doc_id)
       |  JOIN vid v ON v.token = g.sym)
       |$tapeSumsSql""".stripMargin

  /** The q46 corpus plus its ciphered twin (`corpus2`), quality-gated
    * (`g1`), then filtered by the trained language classifier fitted
    * on `lgseeds` to the labels `labels` (an SQL predicate tail such as
    * `= 'en'`), ending in `g2` (q285, q294).
    */
  private[queries] def trainedLangGateSql(labels: String): String =
    s"""$corpusSql,
       |corpus2 AS (
       |  SELECT doc_id, text FROM corpus
       |  UNION ALL
       |  SELECT doc_id + 5000000, $CipherSql AS text FROM corpus),
       |lgseeds AS (
       |  SELECT doc_id AS id, 'en' AS label, text
       |  FROM corpus WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS id, 'xx' AS label, $CipherSql AS text
       |  FROM corpus WHERE doc_id % 10 = 5),
       |scored AS (
       |  SELECT doc_id, text,
       |  $qualityExprSql AS quality,
       |$langHitColsSql
       |  FROM corpus2),
       |gated AS (
       |  SELECT doc_id, text, quality,
       |  $langCaseSql AS lang_pred
       |  FROM scored),
       |g1 AS (SELECT doc_id, text, quality, lang_pred FROM gated
       |       WHERE quality >= 0.7::DOUBLE),
       |lgdocs AS (SELECT doc_id AS id, text FROM g1),
       |${graft.text.LangClassifier.classifyCtes("lgseeds", "lgdocs",
             "lc")},
       |g2 AS (SELECT g1.* FROM g1 JOIN lcpred p ON p.id = g1.doc_id
       |       WHERE p.lang_trained $labels)""".stripMargin

  /** The q46 corpus plus its ciphered twin (ids + 5M), and the language
    * model fitted on every tenth doc of each as 'en' and 'xx' seeds
    * (q285, q286, q294).
    */
  private[queries] def cipheredCorpus(s: SparkSession, dir: String)
      : (DataFrame, graft.text.LangClassifier.Model) = {
    val base = Corpus.corpus(s, dir)
    val ciphered = base.select(
      (col("doc_id") + 5000000L).as("doc_id"),
      cipher(col("text")).as("text"))
    val corpus = base.unionByName(ciphered)
    val seeds = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("en").as("label"), col("text"))
      .unionByName(ciphered.filter(col("doc_id") % 10 === 5)
        .select(col("doc_id"), lit("xx").as("label"), col("text")))
    val model = graft.text.LangClassifier.fit(seeds, "doc_id", "label", "text")
    (corpus, model)
  }
}
