package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Bloom
import graft.functions.PortableHash
import graft.sources.Tables
import graft.text.{TextAnalysis, TextClassify}

/** Round-7 continuation (part c): join-free Bloom decontamination.
  * Every query replays bit-identically in the DuckDB oracle.
  */
object Round7cQueries extends QueryGroup {

  /** Bloom geometry for q123: 2^16 bits, 4 probes. At the sf0.01 train
    * cardinality (~1.5k distinct fingerprints) the load factor is
    * ~0.09, so a fresh doc false-positives with probability ~0.09^4 —
    * and even when one does, both engines compute the identical bits,
    * so the oracle still hash-matches.
    */
  private val BloomM = 65536
  private val BloomK = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benchmark decontamination WITHOUT the join: q84 shuffles train
    // against eval on shared shingles; this builds one mergeable
    // m-bit Bloom bitset over the train fingerprints (map-side
    // partial OR merges) and probes the eval side with k scan-local
    // integer tests against the broadcast bitset literal — no join,
    // no shuffle, no second pass over train. Planted eval: verbatim
    // train copies (must flag — Bloom has no false negatives) and
    // suffixed fresh docs (unflagged modulo deterministic false
    // positives, which the oracle replays exactly).
    "q123_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      def fp(c: org.apache.spark.sql.Column) =
        PortableHash.hash60Base(TextAnalysis.normalized(c))
      val filter = Bloom.build(docs, fp(col("text")), BloomM, BloomK)
      val eval = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id").as("eval_id"),
            concat(col("text"), lit(" eval fresh suffix")).as("text")))
      eval.select(col("eval_id"),
          Bloom.probeHits(fp(col("text")), filter).cast("long").as("hits"),
          Bloom.mightContain(fp(col("text")), filter).as("contaminated"))
        .orderBy(col("eval_id"))
    }),

    // Model-based quality gate: hashed linear classifier inference at
    // corpus scale. The model is a (bucket, weight) RELATION broadcast
    // into the exploded token stream; integer weights make the per-doc
    // score an exact commutative sum, and the accept gate is a
    // mean-weight threshold as integer cross-multiplication — the
    // fastText-classifier-gate shape with zero cross-engine float
    // hazards.
    "q124_classifier_gate" -> ((s, dir) => {
      val w = TextClassify.syntheticWeights(s, ClassifierDim)
      TextClassify.hashedLinear(
          Tables(s, dir, "documents"), "doc_id", "text",
          w, ClassifierDim, thresholdNum = -248, thresholdDen = 1)
        .orderBy(col("doc_id"))
    }),

    // Exact corpus quantiles WITHOUT a global sort: iterative
    // histogram refinement — each round one 256-cell
    // map-side-combinable histogram over the narrowed candidate range
    // (filter pushed to the scan), rounds = log_256(range). Exact
    // where HistSketch (q122) answers to bin precision, and
    // shuffle-free where percentile/ORDER BY pay a corpus sort.
    // Rank contract: k = ceil(p·n), value = k-th smallest inclusive
    // of duplicates — replayed by the oracle as a ROW_NUMBER probe.
    "q125_exact_quantiles" -> ((s, dir) => {
      import graft.operators.Selection
      val d = Tables(s, dir, "documents")
      val n = graft.sources.Tables.docCount(s, dir)
      val rows = Quantiles.map { case (lbl, num, den) =>
        val k = (n * num + den - 1) / den
        (lbl, k, Selection.kthSmallest(d, col("n_chars"), k))
      }
      import s.implicits._
      rows.toDF("pct", "k", "value").orderBy(col("pct"))
    })
  )

  private val Quantiles =
    Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))

  private val ClassifierDim = 1024

  /** Normalization + 60-bit fingerprint, DuckDB text (q18's canonical
    * form fed into the portable hash).
    */
  private def fpSql(textExpr: String): String =
    PortableHash.hash60BaseSql(
      s"""trim(regexp_replace(regexp_replace(lower($textExpr),
         |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))""".stripMargin)

  private def posArms(rel: String, fpCol: String): String =
    (0 until BloomK).map { i =>
      s"SELECT ${if (rel.isEmpty) "" else "eval_id, "}" +
        s"${Bloom.positionSql(fpCol, i, BloomM)} AS pos FROM " +
        (if (rel.isEmpty) "train_fp" else rel)
    }.mkString("\n  UNION ALL ")

  val oracleSql: Map[String, String] = Map(

    "q123_bloom_decontaminate" ->
      s"""WITH train_fp AS (
         |  SELECT DISTINCT ${fpSql("text")} AS fp FROM documents),
         |train_pos AS (
         |  SELECT DISTINCT pos FROM (
         |  ${posArms("", "fp")})),
         |eval AS (
         |  SELECT doc_id AS eval_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, text || ' eval fresh suffix' FROM documents
         |  WHERE doc_id % 5 = 1),
         |eval_fp AS (SELECT eval_id, ${fpSql("text")} AS fp FROM eval),
         |probes AS (
         |  ${posArms("eval_fp", "fp")})
         |SELECT p.eval_id,
         |  CAST(count(t.pos) AS BIGINT) AS hits,
         |  count(t.pos) = $BloomK AS contaminated
         |FROM probes p LEFT JOIN train_pos t ON p.pos = t.pos
         |GROUP BY p.eval_id ORDER BY p.eval_id""".stripMargin,

    "q124_classifier_gate" ->
      s"""WITH weights AS (${TextClassify.syntheticWeightsSql(ClassifierDim)}),
         |toks AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\\s+'),
         |      x -> x <> '')) AS token
         |  FROM documents),
         |b AS (SELECT doc_id,
         |    ${TextClassify.bucketSql("token", ClassifierDim)} AS bucket
         |  FROM toks)
         |SELECT b.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(COALESCE(w.weight, 0)) AS BIGINT) AS score,
         |  CAST(sum(COALESCE(w.weight, 0)) AS BIGINT) * 1
         |    >= -248 * CAST(count(*) AS BIGINT) AS keep
         |FROM b LEFT JOIN weights w USING (bucket)
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q125_exact_quantiles" -> {
      val arms = Quantiles.map { case (lbl, num, den) =>
        s"SELECT '$lbl' AS pct, (c*$num + ${den - 1}) // $den AS k FROM n"
      }.mkString("\n  UNION ALL ")
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |ks AS (
         |  $arms),
         |r AS (SELECT n_chars AS value,
         |    row_number() OVER (ORDER BY n_chars) AS rn
         |  FROM documents)
         |SELECT ks.pct, CAST(ks.k AS BIGINT) AS k, r.value
         |FROM ks JOIN r ON r.rn = ks.k ORDER BY ks.pct""".stripMargin
    }
  )
}
