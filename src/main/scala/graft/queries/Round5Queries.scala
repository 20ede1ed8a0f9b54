package graft.queries

import graft.functions.PortableHash
import graft.queries.fixtures.{Corpus, Vectors}
import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.Vectors._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 widening: the LLM-pipeline operators between cleaning and
  * training — repetition-based quality signals (Gopher-style), sequence
  * packing (concat-then-chunk layout), deterministic mixture sampling,
  * and IVF-PQ (product-quantization ANN over a compressed index).
  * Every query replays bit-identically in the DuckDB oracle.
  */
object Round5Queries extends QueryGroup {

  /** q91/q92/q93 parameters shared by engine calls and oracle SQL. */
  private val PackLen = 2048
  private val PackGroups = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher-style repetition signals: unique-token fraction, top-token
    // mass, top-bigram mass, and the combined repetitive gate — exact
    // integer counts, one double division per fraction.
    "q90_repetition" -> ((s, dir) => {
      graft.text.Repetition.signals(
        Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Sequence packing: documents routed to 8 independent streams and
    // laid head-to-tail, cut every 2048 tokens — per-doc placement
    // (stream, first sequence, offset, sequences straddled) in pure
    // integer arithmetic over stream-keyed prefix sums.
    "q91_seq_packing" -> ((s, dir) => {
      graft.pipeline.Packing.packSequences(
        Tables(s, dir, "documents"), "doc_id", "text",
        seqLen = PackLen, numGroups = PackGroups)
        .orderBy(col("doc_id"))
    }),

    // IVF-PQ ANN: coarse inverted-file routing + product-quantization
    // ADC scoring — int8-exact integer scores over a compressed index
    // (bucket + 8 one-byte codes per vector), ranks hash-checked.
    "q92_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.similarity.Similarity.ivfPqTopK(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding",
        k = 10, c = PqC, m = PqM, nProbe = PqProbe, kCodes = PqK)
        .orderBy(col("q_id"), col("rank"))
    }),

    // The COMPLETE training-data pipeline: mixture gate (cheapest —
    // pure hash filter, no text read) -> repetition gate (Gopher
    // rules) -> quality gate -> language gate -> exact dedup -> LSH
    // near-dup removal. Every round-5 operator composed with the
    // proven q46 chain, replayed stage-for-stage by the oracle.
    "q94_pipeline_full" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val th = ((lit(20) - substring(col("source"), 4, 10).cast("int"))
        .cast("long") * 50000L)
      val mixed = docs
        .filter(graft.pipeline.Mixture.keepExpr(col("doc_id"), th))
        .select(col("doc_id"), col("text"))
      val nonRep = graft.text.Repetition.signals(mixed, "doc_id", "text")
        .filter(!col("repetitive")).select(col("doc_id"))
      val gated = mixed.join(nonRep, Seq("doc_id"), "left_semi")
      graft.pipeline.CorpusPipeline.clean(gated, "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup-style semantic dedup — the cluster-bucketed SCALE path
    // for embedding near-dup removal (q23 is the all-pairs baseline):
    // portable-IVF coarse clusters bound the quadratic cosine stage to
    // within-cluster pairs; connected components resolve transitive
    // chains; min-id survives. Planted duplicates (exact copies and
    // 2x-scaled copies — cosine-identical but byte-different, and
    // co-clustered by construction since range quantization is
    // scale-invariant) make the survivor set non-trivial: the base
    // embeddings never exceed cosine ~0.6 pairwise.
    "q95_semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val repA = emb.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val repB = emb.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          // x2 is exponent-only in IEEE: exact in float, and exact again
          // after the oracle's float->double cast — no rounding skew
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      graft.similarity.Similarity.semanticDedup(
        emb.unionByName(repA).unionByName(repB), "vec_id", "embedding",
        threshold = 0.99, c = Vectors.IvfC,
        iters = Vectors.IvfIters)
        .orderBy(col("vec_id"))
    }),

    // Token-budget waterfill: spend a global token budget (2/5 of the
    // corpus) down the source priority order — whole sources until the
    // line, one hash-gated marginal source at an integer ppm rate, the
    // rest dropped. The allocation table and the sampled membership are
    // both exact integer arithmetic.
    "q96_token_budget" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = graft.text.TextAnalysis.tokenCount(col("text"))
      val alloc = graft.pipeline.TokenBudget.allocate(docs, "source",
        substring(col("source"), 4, 10).cast("int"), toks,
        budgetNum = 2L, budgetDen = 5L)
      val kept = graft.pipeline.TokenBudget.sample(
        docs.withColumn("n_tok", toks.cast("long")), "doc_id", "source",
        alloc)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
      alloc.join(kept, Seq("source"), "left")
        .select(col("source"), col("priority").as("srcnum"), col("n_in"),
          col("tok_in"), col("cum_before"), col("budget"), col("keep_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
        .orderBy(col("srcnum"))
    }),

    // Incremental LSH: the near-dup index grows batch-by-batch (here:
    // even doc_ids, then odd) — each batch shingles/signs/bands ONLY
    // its own documents and joins against the stored buckets. Pairs
    // are exactly-once across batches (the later member's batch emits),
    // so the union of per-batch outputs must equal the one-shot run —
    // the oracle is the SAME SQL as q20's whole-corpus replay.
    "q97_incremental_lsh" -> ((s, dir) => {
      val c = Corpus.corpus(s, dir)
      val (idx, p1) = graft.dedup.IncrementalLsh.build(
        c.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val (_, p2) = graft.dedup.IncrementalLsh.addBatch(idx,
        c.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
      p1.unionByName(p2).orderBy(col("a"), col("b"))
    }),

    // Epoch manifest: the end-of-pipeline composition — fit the corpus
    // under the token budget (q96's waterfill), then lay the surviving
    // documents into fixed-length training sequences (q91's packing).
    // Per-document placement for exactly the docs the budget funds.
    "q98_epoch_manifest" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = graft.text.TextAnalysis.tokenCount(col("text"))
      val alloc = graft.pipeline.TokenBudget.allocate(docs, "source",
        substring(col("source"), 4, 10).cast("int"), toks,
        budgetNum = 2L, budgetDen = 5L)
      val kept = graft.pipeline.TokenBudget.sample(docs, "doc_id",
        "source", alloc)
      graft.pipeline.Packing.packSequences(kept, "doc_id", "text",
        seqLen = PackLen, numGroups = PackGroups)
        .orderBy(col("doc_id"))
    }),

    // BM25 relevance ranking: query -> top-20 documents, via the
    // general graft.text.Bm25 operator — terms supplied AS DATA (a
    // broadcast relation), per-doc totals a strict term-sorted left
    // fold from 0.0, so any query relation ranks bit-identically in
    // both engines (the spec exercises a second term set).
    "q99_bm25" -> ((s, dir) => {
      import s.implicits._
      val terms = Seq("table", "join", "fast", "query").toDF("term")
      graft.text.Bm25.rank(Tables(s, dir, "documents"), "doc_id", "text",
        terms, k = 20)
        .orderBy(col("rank"))
    }),

    // Span-level exact duplicate detection (suffix-array-style dedup,
    // Spark-shaped): positional 8-token gram hashes -> repeated grams
    // mark duplicated span starts -> consecutive starts merge into
    // maximal spans. On the planted corpus, verbatim copies read
    // dup_frac = 1.0 and the tail-marker variants surface their shared
    // prefix as one long span.
    "q100_dup_spans" -> ((s, dir) => {
      graft.dedup.Dedup.duplicateSpans(
        Corpus.corpus(s, dir), "doc_id", "text", k = 8,
        maxDf = 64L)
        .orderBy(col("doc_id"))
    }),

    // Deterministic mixture sampling: each source survives at a
    // per-source rate (parts-per-million thresholds derived from the
    // source index), membership a pure hash of the doc id — the
    // reproducible mixture-construction step. Per-source audit:
    // incoming/kept rows, kept tokens, achieved fraction.
    "q93_mixture" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val srcnum = substring(col("source"), 4, 10).cast("int")
      val th = ((lit(20) - srcnum).cast("long") * 50000L).as("threshold")
      val kept = docs
        .withColumn("threshold", th)
        .filter(graft.pipeline.Mixture.keepExpr(col("doc_id"),
          col("threshold")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(graft.text.TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("tok_kept"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_in"))
        .withColumn("threshold", th)
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("threshold"), col("n_in"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tok_kept"), lit(0L)).as("tok_kept"),
          (coalesce(col("n_kept"), lit(0L)).cast("double") /
            col("n_in").cast("double")).as("kept_frac"))
        .orderBy(col("source"))
    })
  )

  // ---- oracle SQL ----------------------------------------------------

  val oracleSql: Map[String, String] = Map(
    "q90_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksExpr AS ts FROM documents),
         |tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY doc_id, tok),
         |t AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok,
         |    COUNT(*) AS n_unique, CAST(MAX(n) AS BIGINT) AS top_tok_n
         |  FROM tc GROUP BY doc_id),
         |grams AS (SELECT doc_id,
         |    unnest(CASE WHEN len(ts) >= 2
         |      THEN list_transform(generate_series(1, len(ts)-1),
         |             i -> ts[i] || ' ' || ts[i+1])
         |      ELSE []::VARCHAR[] END) AS gram
         |  FROM toks),
         |gc AS (SELECT doc_id, gram, COUNT(*) AS n FROM grams GROUP BY doc_id, gram),
         |g AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_gram,
         |    CAST(MAX(n) AS BIGINT) AS top_gram_n
         |  FROM gc GROUP BY doc_id)
         |SELECT t.doc_id, t.n_tok, t.n_unique,
         |  CAST(t.n_unique AS DOUBLE) / CAST(t.n_tok AS DOUBLE) AS uniq_frac,
         |  CAST(t.top_tok_n AS DOUBLE) / CAST(t.n_tok AS DOUBLE) AS top_tok_frac,
         |  CAST(g.top_gram_n AS DOUBLE) / CAST(g.n_gram AS DOUBLE) AS top_gram_frac,
         |  (COALESCE(CAST(g.top_gram_n AS DOUBLE) / CAST(g.n_gram AS DOUBLE), 0.0) > 0.08
         |    OR CAST(t.n_unique AS DOUBLE) / CAST(t.n_tok AS DOUBLE) < 0.4) AS repetitive
         |FROM t LEFT JOIN g USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q91_seq_packing" ->
      s"""WITH t AS (SELECT doc_id, doc_id % $PackGroups AS grp,
         |    CAST(len($toksExpr) AS BIGINT) AS n_tok
         |  FROM documents),
         |p AS (SELECT doc_id, grp, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t WHERE n_tok > 0)
         |SELECT doc_id, grp, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $PackLen AS seq_first,
         |  (cum - n_tok) % $PackLen AS seq_off,
         |  (cum - 1) // $PackLen - (cum - n_tok) // $PackLen + 1 AS n_seqs
         |FROM p ORDER BY doc_id""".stripMargin,
    "q92_ann_ivfpq" ->
      s"""WITH $pqAdcCtesSql
         |SELECT q_id, n_id, qcos, rank FROM (
         |  SELECT q_id, n_id, s / sqrt(nq * nc) AS qcos,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY s / sqrt(nq * nc) DESC, n_id ASC) AS rank
         |  FROM adc) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q94_pipeline_full" ->
      s"""WITH RECURSIVE
         |mix AS (SELECT doc_id, text FROM documents
         |  WHERE ${PortableHash.hash60BaseSql("doc_id::VARCHAR")} % 1000000
         |    < CAST(20 - CAST(substr(source, 4) AS INT) AS BIGINT) * 50000),
         |rts AS (SELECT doc_id, $toksExpr AS ts FROM mix),
         |rtok AS (SELECT doc_id, unnest(ts) AS tok FROM rts),
         |rtc AS (SELECT doc_id, tok, COUNT(*) AS n FROM rtok
         |  GROUP BY doc_id, tok),
         |rt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok,
         |    COUNT(*) AS n_unique
         |  FROM rtc GROUP BY doc_id),
         |rgram AS (SELECT doc_id,
         |    unnest(CASE WHEN len(ts) >= 2
         |      THEN list_transform(generate_series(1, len(ts)-1),
         |             i -> ts[i] || ' ' || ts[i+1])
         |      ELSE []::VARCHAR[] END) AS gram
         |  FROM rts),
         |rgc AS (SELECT doc_id, gram, COUNT(*) AS n FROM rgram
         |  GROUP BY doc_id, gram),
         |rg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_gram,
         |    CAST(MAX(n) AS BIGINT) AS top_gram_n
         |  FROM rgc GROUP BY doc_id),
         |rep AS (SELECT t.doc_id FROM rt t LEFT JOIN rg g USING (doc_id)
         |  WHERE NOT (
         |    COALESCE(CAST(g.top_gram_n AS DOUBLE) / CAST(g.n_gram AS DOUBLE),
         |             0.0) > 0.08
         |    OR CAST(t.n_unique AS DOUBLE) / CAST(t.n_tok AS DOUBLE) < 0.4)),
         |corpus AS (SELECT m.doc_id, m.text FROM mix m
         |  WHERE m.doc_id IN (SELECT doc_id FROM rep)),
         |${Corpus.rowGatesSql("corpus")},
         |${Corpus.cleanSurvivorsSql("g2")}""".stripMargin,
    "q95_semantic_dedup" ->
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
         |cb AS (SELECT vec_id, e, cluster AS bucket FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c${Vectors.IvfIters} c) WHERE rn = 1),
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
         |ORDER BY cb.vec_id""".stripMargin,
    "q96_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(substr(source, 4) AS INT) AS srcnum,
         |    CAST(len($toksExpr) AS BIGINT) AS n_tok
         |  FROM documents),
         |s AS (SELECT source, srcnum, COUNT(*) AS n_in,
         |    CAST(SUM(n_tok) AS BIGINT) AS tok_in
         |  FROM d GROUP BY source, srcnum),
         |w AS (SELECT source, srcnum, n_in, tok_in,
         |    CAST(COALESCE(SUM(tok_in) OVER (ORDER BY srcnum, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before,
         |    CAST(SUM(tok_in) OVER () AS BIGINT) * 2 // 5 AS budget
         |  FROM s),
         |t AS (SELECT *, CASE WHEN cum_before >= budget THEN 0
         |    WHEN cum_before + tok_in <= budget THEN 1000000
         |    ELSE (budget - cum_before) * 1000000 // tok_in END AS keep_ppm
         |  FROM w),
         |k AS (SELECT d.source, COUNT(*) AS n_kept,
         |    CAST(SUM(d.n_tok) AS BIGINT) AS tok_kept
         |  FROM d JOIN t ON t.source = d.source
         |  WHERE ${PortableHash.hash60BaseSql("d.doc_id::VARCHAR")} % 1000000
         |    < t.keep_ppm
         |  GROUP BY d.source)
         |SELECT t.source, t.srcnum, t.n_in, t.tok_in, t.cum_before,
         |  t.budget, t.keep_ppm,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.tok_kept, 0) AS tok_kept
         |FROM t LEFT JOIN k ON k.source = t.source
         |ORDER BY t.srcnum""".stripMargin,
    // identical to q20's replay: batching must not change the answer
    "q97_incremental_lsh" -> {
      import Corpus.{corpusSql, shinglesSql, minhashCtesSql,
        jaccardTailSql}
      s"""WITH $corpusSql,
         |${shinglesSql("corpus")},
         |$minhashCtesSql,
         |${jaccardTailSql("0.5")}""".stripMargin
    },
    "q98_epoch_manifest" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(substr(source, 4) AS INT) AS srcnum,
         |    CAST(len($toksExpr) AS BIGINT) AS n_tok
         |  FROM documents),
         |s AS (SELECT source, srcnum, CAST(SUM(n_tok) AS BIGINT) AS tok_in
         |  FROM d GROUP BY source, srcnum),
         |w AS (SELECT source, srcnum, tok_in,
         |    CAST(COALESCE(SUM(tok_in) OVER (ORDER BY srcnum, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before,
         |    CAST(SUM(tok_in) OVER () AS BIGINT) * 2 // 5 AS budget
         |  FROM s),
         |t AS (SELECT *, CASE WHEN cum_before >= budget THEN 0
         |    WHEN cum_before + tok_in <= budget THEN 1000000
         |    ELSE (budget - cum_before) * 1000000 // tok_in END AS keep_ppm
         |  FROM w),
         |kept AS (SELECT d.doc_id, d.doc_id % $PackGroups AS grp, d.n_tok
         |  FROM d JOIN t ON t.source = d.source
         |  WHERE ${PortableHash.hash60BaseSql("d.doc_id::VARCHAR")} % 1000000
         |    < t.keep_ppm AND d.n_tok > 0),
         |p AS (SELECT doc_id, grp, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM kept)
         |SELECT doc_id, grp, n_tok,
         |  cum - n_tok AS start_tok,
         |  (cum - n_tok) // $PackLen AS seq_first,
         |  (cum - n_tok) % $PackLen AS seq_off,
         |  (cum - 1) // $PackLen - (cum - n_tok) // $PackLen + 1 AS n_seqs
         |FROM p ORDER BY doc_id""".stripMargin,
    "q99_bm25" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksExpr) AS token
         |  FROM documents),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |  FROM toks GROUP BY doc_id),
         |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS tot, COUNT(*) AS nd
         |  FROM dl),
         |qt AS (SELECT unnest(['table', 'join', 'fast', 'query']) AS token),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks
         |  WHERE token IN (SELECT token FROM qt)
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
         |tot AS (SELECT doc_id, bm25 FROM pd WHERE bm25 > 0)
         |SELECT doc_id, bm25, rank FROM (
         |  SELECT doc_id, bm25,
         |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |  FROM tot) t
         |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "q100_dup_spans" -> {
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
         |b AS (SELECT doc_id, pos,
         |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id
         |      ORDER BY pos) = 1 THEN 0 ELSE 1 END AS brk
         |  FROM dp),
         |sp AS (SELECT doc_id, pos,
         |    CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS span
         |  FROM b),
         |spans AS (SELECT doc_id, span, COUNT(*) AS n_starts,
         |    CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS len
         |  FROM sp GROUP BY doc_id, span),
         |pd AS (SELECT doc_id, COUNT(*) AS n_spans,
         |    CAST(SUM(n_starts) AS BIGINT) AS n_dup,
         |    CAST(MAX(len) AS BIGINT) AS max_span
         |  FROM spans GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams
         |  GROUP BY doc_id)
         |SELECT t.doc_id, t.n_grams,
         |  COALESCE(p.n_dup, 0) AS n_dup,
         |  CAST(COALESCE(p.n_dup, 0) AS DOUBLE)
         |    / CAST(t.n_grams AS DOUBLE) AS dup_frac,
         |  COALESCE(p.n_spans, 0) AS n_spans,
         |  COALESCE(p.max_span, 0) AS max_span
         |FROM tot t LEFT JOIN pd p USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    },
    "q93_mixture" ->
      s"""WITH d AS (SELECT doc_id, source, text,
         |    CAST(20 - CAST(substr(source, 4) AS INT) AS BIGINT) * 50000 AS threshold
         |  FROM documents),
         |kept AS (SELECT source, COUNT(*) AS n_kept,
         |    CAST(SUM(CAST(len($toksExpr) AS BIGINT)) AS BIGINT) AS tok_kept
         |  FROM d
         |  WHERE ${PortableHash.hash60BaseSql("doc_id::VARCHAR")} % 1000000 < threshold
         |  GROUP BY source)
         |SELECT t.source,
         |  CAST(20 - CAST(substr(t.source, 4) AS INT) AS BIGINT) * 50000 AS threshold,
         |  t.n_in,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.tok_kept, 0) AS tok_kept,
         |  CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / CAST(t.n_in AS DOUBLE) AS kept_frac
         |FROM (SELECT source, COUNT(*) AS n_in FROM documents GROUP BY source) t
         |LEFT JOIN kept k ON k.source = t.source
         |ORDER BY t.source""".stripMargin
  )
}
