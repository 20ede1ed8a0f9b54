package graft.queries

import graft.dedup.Dedup
import graft.functions.PortableHash
import graft.queries.fixtures.Corpus._
import graft.sources.Tables
import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over `documents`: text analysis,
  * exact/near deduplication (SURVEY.md §7.3 M4 north star).
  *
  * The synthetic corpus has no natural duplicates, so dedup queries run on
  * a derived corpus with deterministically planted duplicates — exact
  * copies (doc_id%7, id+1e6) and near-copies with a 3-token tail appended
  * (doc_id%11, id+2e6) — the identical derivation appears in the oracle
  * SQL.
  */
object PipelineQueries extends QueryGroup {

  private val enStops = Seq("the", "a", "of", "and", "is")

  /** Same planting on a 1-in-20 restricted base — for the exact all-pairs
    * Jaccard join, whose shingle-join cost is quadratic in docs-per-
    * shingle and is only run as the verifier/baseline.
    */
  private def corpusSmall(s: SparkSession, dir: String): DataFrame =
    plant(Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 20 === 0))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Row-local text-quality signals: no shuffle at all, pure codegen.
    "q16_text_stats" -> ((s, dir) => {
      val t = col("text")
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        length(t).as("len_chars"),
        TextAnalysis.avgWordLen(t).as("avg_word_len"),
        TextAnalysis.punctRatio(t).as("punct_ratio"),
        TextAnalysis.stopwordRatio(t, enStops).as("stop_ratio"),
        TextAnalysis.qualityScore(t, enStops).as("quality")
      ).orderBy(col("doc_id"))
    }),

    // Marker-token language ID vs the labeled truth column.
    "q17_lang_id" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    }),

    // Exact dedup: one hash-aggregate on the 128-bit content fingerprint.
    "q18_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(corpus(s, dir), "doc_id", "text")
        .orderBy(col("keep_id"))
    }),

    // Exact n-gram Jaccard all-pairs (inverted shingle join) on the
    // restricted corpus — the correctness baseline for LSH.
    "q19_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(corpusSmall(s, dir), "doc_id", "text")
        .orderBy(col("a"), col("b"))
    }),

    // Benchmark decontamination — the cross-SET n-gram overlap scan an
    // LLM pipeline runs before training: held-out docs (planted here as
    // suffixed copies of doc_id%37 train docs) are shingled together
    // with the train corpus in ONE pass, and any train doc sharing
    // >= 80% of a benchmark doc's 3-shingles is flagged. The inverted
    // shingle join only ever fans out per shared hash (q19's shape,
    // restricted to train x bench), and the threshold is compared in
    // integers so the filter is engine-exact.
    "q84_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"),
          concat(col("text"), lit(" held out benchmark")).as("text"))
      val sh = Dedup.hashedShingles(docs.unionByName(bench), "doc_id", "text")
      val shT = sh.filter(col("doc") < 9000000L)
        .select(col("doc").as("train_id"), col("sh"))
      val shB = sh.filter(col("doc") >= 9000000L)
        .select(col("doc").as("bench_id"), col("sh"))
      val nb = shB.groupBy(col("bench_id")).agg(count(lit(1)).as("nb"))
      shT.join(shB, Seq("sh"))
        .groupBy(col("train_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_common"))
        .join(nb, Seq("bench_id"))
        .filter(col("n_common") * 10 >= col("nb") * 8)
        .select(col("train_id"), col("bench_id"), col("n_common"),
          (col("n_common").cast("double") / col("nb").cast("double"))
            .as("overlap"))
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // MinHash + LSH banding + exact verification of candidates only —
    // the at-scale near-dup path, on the FULL planted corpus.
    "q20_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDuplicates(corpus(s, dir), "doc_id", "text")
        .orderBy(col("a"), col("b"))
    }),

    // 16-bit SimHash fingerprints (integer bit votes, engine-exact).
    "q21_simhash" -> ((s, dir) => {
      Dedup.simhash16(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // SimHash hamming<=1 near-dup pairs: 17-key bit-flip expansion +
    // exact equality join + one bit_count(xor) verify — all-integer,
    // also the bitwise-function surface (xor/shift/bit_count).
    "q68_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("a"), col("b"))
    }),

    // Vocabulary induction: corpus-wide token frequencies, top-50 with a
    // total tiebreak (one explode + one map-side-combinable count).
    "q55_vocab" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),

    // Bigram frequencies over the corpus — the n-gram statistics pass a
    // tokenizer-training pipeline runs.
    "q56_bigrams" -> ((s, dir) => {
      Dedup.shingles(Tables(s, dir, "documents"), "doc_id", "text", n = 2)
        .groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("shingle"))
        .limit(30)
    }),

    // TF-IDF-style salient terms: term frequency weighted by inverse
    // document frequency (kept as the exact ratio N/df rather than its
    // log — same ranking, and integer-ratio doubles stay bit-portable
    // where libm log low bits would not), top-3 terms per document.
    "q57_salient_terms" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val n = graft.sources.Tables.docCount(s, dir)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df_, "token")
        .withColumn("score",
          col("tf").cast("double") * (lit(n.toDouble) / col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // Pair -> cluster resolution: connected components over the LSH
    // near-dup pairs (iterative min-label propagation; the oracle replays
    // it as a recursive CTE).
    "q52_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDuplicates(corpus(s, dir), "doc_id", "text")
        .select(col("a"), col("b"))
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // End-to-end corpus cleaning (quality gate -> language gate -> exact
    // dedup -> LSH near-dup removal) — the full composition, replayed
    // stage-for-stage by the oracle.
    "q46_pipeline" -> ((s, dir) => {
      graft.pipeline.CorpusPipeline.clean(corpus(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  private val corpusSmallSql =
    """base AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000, text || ' zz tail marker' FROM base
      |  WHERE doc_id % 11 = 0)""".stripMargin

  /** SimHash-16 fingerprint CTE chain ending in `fp(doc_id, simhash)` —
    * shared by q21 (fingerprints) and q68 (hamming<=1 pairs).
    */
  private lazy val simhashFpCte =
    s"""toks AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |tokh AS (SELECT doc_id,
       |    (('0x'||substr(md5('2:'||tok),1,15))::BIGINT) % 65536 AS h16
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) t),
       |bits AS (SELECT doc_id, j,
       |    CAST(floor(h16 / pow(2, j)) AS BIGINT) % 2 AS bit
       |  FROM tokh CROSS JOIN (SELECT unnest(generate_series(0,15)) AS j) js),
       |votes AS (SELECT doc_id, j, SUM(bit*2 - 1) AS v FROM bits GROUP BY doc_id, j),
       |fp AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
       |    AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q16_text_stats" ->
      s"""SELECT doc_id,
         |  len($toksExpr) AS n_tokens,
         |  length(text) AS len_chars,
         |  CASE WHEN len($toksExpr) = 0 THEN 0.0::DOUBLE
         |    ELSE list_reduce(list_transform($toksExpr, x -> length(x)), (a,b) -> a+b)::DOUBLE
         |      / greatest(len($toksExpr), 1) END AS avg_word_len,
         |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |    / greatest(length(text), 1) AS punct_ratio,
         |  len(list_filter($toksExpr, t -> list_contains(['the','a','of','and','is'], lower(t))))::DOUBLE
         |    / greatest(len($toksExpr), 1) AS stop_ratio,
         |  $qualityExprSql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q17_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |$langHitColsSql
         |  FROM documents)
         |SELECT lang,
         |  $langCaseSql AS predicted,
         |  COUNT(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q18_dedup_exact" ->
      s"""WITH $corpusSql
         |SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q19_jaccard_pairs" ->
      s"""WITH $corpusSmallSql,
         |${shinglesSql("corpus")},
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
         |  FROM sh x JOIN sh y ON x.shh = y.shh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT cm.a, cm.b,
         |  cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common) AS jaccard
         |FROM common cm
         |JOIN sizes sa ON sa.doc_id = cm.a
         |JOIN sizes sb ON sb.doc_id = cm.b
         |WHERE cm.n_common::DOUBLE / (sa.n_sh + sb.n_sh - cm.n_common) >= 0.5
         |ORDER BY a, b""".stripMargin,
    "q84_decontaminate" ->
      s"""WITH combined AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 9000000, text || ' held out benchmark'
         |  FROM documents WHERE doc_id % 37 = 0),
         |${shinglesSql("combined")},
         |tr AS (SELECT doc_id AS train_id, shh FROM sh WHERE doc_id < 9000000),
         |be AS (SELECT doc_id AS bench_id, shh FROM sh WHERE doc_id >= 9000000),
         |nb AS (SELECT bench_id, COUNT(*) AS nb FROM be GROUP BY bench_id),
         |common AS (
         |  SELECT tr.train_id, be.bench_id, COUNT(*) AS n_common
         |  FROM tr JOIN be ON tr.shh = be.shh
         |  GROUP BY 1, 2)
         |SELECT c.train_id, c.bench_id,
         |  CAST(c.n_common AS BIGINT) AS n_common,
         |  CAST(c.n_common AS DOUBLE) / CAST(nb.nb AS DOUBLE) AS overlap
         |FROM common c JOIN nb USING (bench_id)
         |WHERE c.n_common * 10 >= nb.nb * 8
         |ORDER BY train_id, bench_id""".stripMargin,
    "q20_minhash_lsh" ->
      s"""WITH $corpusSql,
         |${shinglesSql("corpus")},
         |mh AS (
         |  SELECT doc_id,
         |${(0 until 12).map(i =>
            s"    min(${PortableHash.minhashSql("shh % 2147483647", i)}) AS mh_$i")
            .mkString(",\n")}
         |  FROM sh GROUP BY doc_id),
         |buckets AS (
         |  SELECT doc_id,
         |    unnest([0,1,2,3,4,5]) AS band,
         |    unnest([${(0 until 6).map(b =>
              s"md5(mh_${2 * b}::VARCHAR||','||mh_${2 * b + 1}::VARCHAR)")
              .mkString(", ")}]) AS bucket
         |  FROM mh),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM buckets l JOIN buckets r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
         |${jaccardTailSql("0.5")}""".stripMargin,
    "q57_salient_terms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksExpr) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |idf AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |total AS (SELECT COUNT(*)::DOUBLE AS n FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.token,
         |    t.tf::DOUBLE * ((SELECT n FROM total) / d.df) AS score
         |  FROM tf t JOIN idf d USING (token))
         |SELECT doc_id, rnk, token, score FROM (
         |  SELECT doc_id, token, score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, token) AS rnk
         |  FROM scored) x
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q55_vocab" ->
      s"""SELECT token, COUNT(*) AS n
         |FROM (SELECT unnest($toksExpr) AS token FROM documents) t
         |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "q56_bigrams" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |grams AS (SELECT doc_id,
         |    unnest(CASE WHEN len(toks) >= 2
         |      THEN list_transform(generate_series(1, len(toks)-1),
         |             i -> toks[i] || ' ' || toks[i+1])
         |      ELSE []::VARCHAR[] END) AS shingle
         |  FROM toks),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM grams)
         |SELECT shingle, COUNT(*) AS n_docs
         |FROM sh GROUP BY shingle
         |ORDER BY n_docs DESC, shingle LIMIT 30""".stripMargin,
    "q52_dedup_clusters" ->
      s"""WITH RECURSIVE $corpusSql,
         |${shinglesSql("corpus")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(node, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS doc_id, min(lab) AS cluster
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "q46_pipeline" -> pipelineSql,
    "q21_simhash" ->
      s"""WITH $simhashFpCte
         |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,
    "q68_simhash_pairs" ->
      s"""WITH $simhashFpCte,
         |keys AS (
         |  SELECT doc_id, simhash,
         |    unnest(list_prepend(simhash,
         |      list_transform(generate_series(0, 15),
         |                     i -> xor(simhash, CAST(1 << i AS BIGINT))))) AS k
         |  FROM fp)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
         |FROM keys l JOIN fp r ON r.simhash = l.k AND l.doc_id < r.doc_id
         |ORDER BY a, b""".stripMargin
  )
}
