package graft.queries

import graft.queries.fixtures.Corpus.toksExpr
import graft.queries.fixtures.{Corpus, Streams}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.fixtures.Media.{audioFpCtesSql, audioMedia}
import graft.quality.Entropy
import graft.sources.Tables

/** Round-8 queries. Every query replays bit-identically in the DuckDB
  * oracle.
  */
object Round8Queries extends QueryGroup {

  /** Deterministic high-entropy "spew" text: 16 concatenated md5 blocks
    * (alternating case — a 22-symbol near-uniform alphabet, 512 chars),
    * identical derivation in both engines. Collision index lands in
    * [0.050, 0.056], below every real document (min 0.068 at sf0.01).
    */
  private def spewText(id: Column): Column =
    concat((1 to 16).map { i =>
      val block = md5(concat(id.cast("string"), lit(s":e$i")))
      if (i % 2 == 0) upper(block) else block
    }: _*)

  private def spewTextSql(idExpr: String): String =
    (1 to 16).map { i =>
      val block = s"md5($idExpr::VARCHAR||':e$i')"
      if (i % 2 == 0) s"upper($block)" else block
    }.mkString(" || ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Order-0 character-entropy gate — the Gopher/RefinedWeb gibberish-
    // and-spam signal via the collision index (Renyi-2 entropy under a
    // monotone transform), all-integer gate arithmetic. Planted: random
    // hex spew (%23, must class 'spew') and repeated boilerplate (%29,
    // must class 'spam'); every real document must class 'ok'.
    "q127_entropy_gate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs
        .unionByName(docs.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            spewText(col("doc_id")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            lit("spam " * 40).as("text")))
      Entropy.gate(corpus, "doc_id", "text").orderBy(col("doc_id"))
    }),

    // Streaming END-TO-END corpus cleaning, run for real: the planted
    // q46 corpus lands as a 3-file staging directory, a file-source
    // stream drains it one file per micro-batch, and each batch is
    // gated (quality + language) and folded into the incremental LSH
    // index inside one foreachBatch frame — land → gate → fold in one
    // pass. Survivors resolve at end of stream from the accumulated
    // materialized state. The oracle is q46's whole-corpus SQL replay
    // VERBATIM while the stream's file batching differs — "streamed
    // cleaning == one-shot cleaning" is a hash-checked contract.
    "q126_stream_corpus_clean" -> ((s, dir) => {
      import java.nio.file.Files
      val stage = Files.createTempDirectory("graft-q126-landing").toString
      val cp = Files.createTempDirectory("graft-q126-cp").toString
      Corpus.corpus(s, dir)
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(s, stage)
      val (_, gated, pairs) = graft.streaming.StreamingCorpus.ingest(
        stream, "doc_id", "text", cp)
      // gated/pairs are per-batch localCheckpoint'd — the resolve plan
      // never reads the staging files, so they are deletable now
      Streams.rmTree(stage); Streams.rmTree(cp)
      graft.streaming.StreamingCorpus
        .resolveSurvivors(gated, pairs, "doc_id", "text")
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // Full PII compliance pass — q81 (email+IPv4) extended with phone
    // numbers, IBAN-shaped account ids, and credit cards with a LUHN
    // validity check as explicit integer arithmetic: card-SHAPED
    // numbers are counted, but only checksum-valid ones are scrubbed
    // (the %19 plant is shaped-but-invalid and must survive). Counts
    // per category + md5 of the fully scrubbed text hash-check the
    // whole rewrite without shipping it.
    "q128_pii_classes" -> ((s, dir) => {
      import graft.text.Pii
      val planted = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" reach me at user5@example.com")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" from 192.168.10.77 today")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" call +1-555-0147 or +44-207-946-0958")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" card 4539 1488 0343 6467 or 4111111111111111 on file"))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 0,
          lit(" card 4539-1488-0343-6468 rejected")).otherwise(lit("")),
        when(col("doc_id") % 23 === 0,
          lit(" pay DE44500105175407324931 ref")).otherwise(lit("")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(Pii.EmailRe)).as("n_email"),
          regexp_count(col("t"), lit(Pii.Ipv4Re)).as("n_ip"),
          regexp_count(col("t"), lit(Pii.PhoneRe)).as("n_phone"),
          size(Pii.cardMatches(col("t"))).as("n_card_shaped"),
          size(Pii.validCards(col("t"))).as("n_card_valid"),
          regexp_count(col("t"), lit(Pii.IbanRe)).as("n_iban"),
          md5(Pii.scrub(col("t"))).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual AUDIO dedup — the q110 sibling for sound: real 16-bit
    // PCM WAV payloads are built, re-encoded (decode->encode, %3),
    // nearest-neighbor resampled 2x (%5), and gain-doubled (%7); the
    // spectral-energy fingerprint (8 windows x lag-{0,1,2,4} comb
    // energies; 52 gradient bits along both the temporal and spectral
    // axes) is invariant to all three — probes sample a fixed time
    // grid, and bits compare energy RATIOS — while distinct clips
    // separate (measured min inter-clip hamming 5-6 over ~20k pairs).
    // 4x13-bit bands + hamming<=3 verify keeps the banded candidate
    // stage exhaustive by pigeonhole.
    "q129_audio_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.multimodal.AudioFp
      AudioFp.clusters(AudioFp.fingerprints(audioMedia(s, dir)), "id", "afp")
        .orderBy(col("id"))
    }),

    // Incremental ingest for the audio index: q129's clip corpus
    // arrives in 3 batches (rid % 3), each folding into
    // IncrementalAudio — only the batch is banded, candidates from
    // new-vs-stored collisions, pairs exactly-once. The oracle is
    // q129's one-shot SQL VERBATIM: batched ingest must not change the
    // clustering.
    "q131_incremental_audio" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import graft.multimodal.{AudioFp, IncrementalAudio}
      val fps = AudioFp.fingerprints(audioMedia(s, dir)).localCheckpoint()
      val (i0, p0) = IncrementalAudio.build(fps.filter(col("id") % 3 === 0))
      val (i1, p1) = IncrementalAudio.addBatch(i0,
        fps.filter(col("id") % 3 === 1))
      val (i2, p2) = IncrementalAudio.addBatch(i1,
        fps.filter(col("id") % 3 === 2))
      IncrementalAudio.clusters(i2, p0.unionByName(p1).unionByName(p2))
        .orderBy(col("id"))
    }),

    // STREAMING ingest for the audio index — the third front door of
    // the ingest trilogy (q118 text, q119 embeddings): q129's WAV
    // payloads land as a 3-file staging directory, a file-source
    // stream drains it one file per micro-batch, each batch is decoded
    // + fingerprinted once and folded into IncrementalAudio. Oracle =
    // q129's one-shot SQL VERBATIM while the stream's file batching
    // differs from q131's %3 batching — batching-independence is
    // hash-checked for real.
    "q132_stream_audio_ingest" -> ((s, dir) => {
      import java.nio.file.Files
      implicit val sp: SparkSession = s
      import graft.multimodal.IncrementalAudio
      val stage = Files.createTempDirectory("graft-q132-landing").toString
      val cp = Files.createTempDirectory("graft-q132-cp").toString
      audioMedia(s, dir).toDF()
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(s, stage)
      val (idx, pairs) = graft.streaming.StreamingAudio.ingest(stream, cp)
      Streams.rmTree(stage); Streams.rmTree(cp)
      IncrementalAudio.clusters(idx, pairs).orderBy(col("id"))
    }),

    // The corpus pipeline WITH the entropy band wired in (q46 = band
    // off). The plants are crafted to PASS the quality and language
    // gates — "the spam " repetition carries an en marker + stopword,
    // the hex spew gets a "the " prefix — so only the collision band
    // can remove them: spam coll = 11/81 ≈ 0.136 ≥ 1/8, spew ≈ 0.053
    // ≤ 3/50. Survivors equal q46's exactly (plants share no shingles
    // with real docs and are banded out before dedup).
    "q130_pipeline_banded" -> ((s, dir) => {
      import graft.pipeline.CorpusPipeline
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val spew = d.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("the ") +: (1 to 16).map { i =>
            val block = md5(concat(col("doc_id").cast("string"), lit(s":p$i")))
            if (i % 2 == 0) upper(block) else block
          }: _*).as("text"))
      val spam = d.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          lit("the spam " * 30).as("text"))
      val corpus = Corpus.corpus(s, dir)
        .unionByName(spew).unionByName(spam)
      CorpusPipeline.clean(corpus, "doc_id", "text",
          CorpusPipeline.Config(collisionBand = Some((Entropy.SpewNum,
            Entropy.SpewDen, Entropy.SpamNum, Entropy.SpamDen))))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // The pipeline with the MODEL-BASED gate wired in: q124's hashed
    // linear classifier as CorpusPipeline stage 1c (after the
    // heuristic gates — the cost order production pipelines use).
    // Threshold -300 is the measured ~p25 of the per-doc mean weight
    // (distribution: p25 -301 / median -248 / p75 -187), so the gate
    // keeps ~75% and genuinely filters the rest. Dedup then runs on
    // the classifier's survivors; the oracle replays q46
    // stage-for-stage with the classifier CTEs inserted.
    "q133_pipeline_classified" -> ((s, dir) => {
      import graft.pipeline.CorpusPipeline
      import graft.text.TextClassify
      val w = TextClassify.syntheticWeights(s, ClassifierDim)
      CorpusPipeline.clean(Corpus.corpus(s, dir), "doc_id", "text",
          CorpusPipeline.Config(classifier = Some(
            CorpusPipeline.ClassifierGate(w, ClassifierDim,
              thresholdNum = -300L, thresholdDen = 1L))))
        .select(col("doc_id"), col("quality"), col("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-based mixture sampling at alpha = 1/2: each source's
    // budget share is proportional to sqrt(its size) — the classic
    // up-weighting of small sources vs proportional sampling. sqrt is
    // IEEE-correctly-rounded (pow is not), and the normalizer folds in
    // source-name order, so the derived integer thresholds — and hence
    // the exact surviving row set — replay bit-identically.
    "q134_temperature_mixture" -> ((s, dir) => {
      import graft.pipeline.Mixture
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val counts = docs.groupBy(col("source")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val th = Mixture.temperatureThresholds(counts, targetRows = 300L)
      Mixture.sample(docs, "doc_id", "source", th)
        .groupBy(col("source"), col("threshold"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // Per-source corpus HEALTH REPORT — every release gate fused into
    // one pass over a corpus planted with q128's PII and q127's
    // spam/spew (plants keep their source, so the report localizes
    // them): doc/token counts, quality-gate and language-gate pass
    // counts, per-class PII incidence, and entropy classes (one
    // per-doc signal aggregation joined back). The compliance
    // dashboard a data-release review reads.
    "q135_corpus_report" -> ((s, dir) => {
      import graft.text.{Pii, TextAnalysis}
      val piiText = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" reach me at user5@example.com")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          lit(" card 4539 1488 0343 6467 on file")).otherwise(lit("")))
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), piiText.as("text"))
      val corpus = d
        .unionByName(Tables(s, dir, "documents")
          .filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("source"),
            spewText(col("doc_id")).as("text")))
        .unionByName(Tables(s, dir, "documents")
          .filter(col("doc_id") % 29 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("source"),
            lit("spam " * 40).as("text")))
      val cls = Entropy.gate(corpus, "doc_id", "text")
        .select(col("doc_id"), col("cls"))
      corpus.join(cls, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          count(when(TextAnalysis.qualityScore(col("text"),
            Seq("the", "a", "of", "and", "is")) >= 0.7, 1)).as("n_quality_ok"),
          count(when(TextAnalysis.langId(col("text")) === "en", 1))
            .as("n_en"),
          count(when(regexp_count(col("text"), lit(Pii.EmailRe)) > 0, 1))
            .as("n_pii_email"),
          count(when(size(Pii.validCards(col("text"))) > 0, 1))
            .as("n_pii_card"),
          count(when(col("cls") === "spam", 1)).as("n_spam"),
          count(when(col("cls") === "spew", 1)).as("n_spew"))
        .orderBy(col("source"))
    })
  )

  private val ClassifierDim = 1024

  val oracleSql: Map[String, String] = Map(

    // q46's SQL verbatim: streaming the cleaning must not change the answer
    "q126_stream_corpus_clean" -> Corpus.pipelineSql,

    "q127_entropy_gate" -> {
      val n2 = "CAST(n_chars * n_chars AS BIGINT)"
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000, ${spewTextSql("doc_id")}
         |  FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, repeat('spam ', 40)
         |  FROM documents WHERE doc_id % 29 = 0),
         |${Entropy.signalsSql("corpus", "doc_id", "text")}
         |SELECT doc_id, n_chars, distinct_chars,
         |  coll_num::DOUBLE / $n2::DOUBLE AS coll,
         |  CASE WHEN coll_num * ${Entropy.SpamDen} >= ${Entropy.SpamNum} * $n2
         |         THEN 'spam'
         |       WHEN coll_num * ${Entropy.SpewDen} <= ${Entropy.SpewNum} * $n2
         |         THEN 'spew'
         |       ELSE 'ok' END AS cls,
         |  NOT (coll_num * ${Entropy.SpamDen} >= ${Entropy.SpamNum} * $n2
         |    OR coll_num * ${Entropy.SpewDen} <= ${Entropy.SpewNum} * $n2)
         |    AS keep
         |FROM entsig ORDER BY doc_id""".stripMargin
    },

    "q128_pii_classes" -> {
      import graft.text.Pii
      s"""WITH p AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' reach me at user5@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |         THEN ' from 192.168.10.77 today' ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0
         |         THEN ' call +1-555-0147 or +44-207-946-0958' ELSE '' END
         |    || CASE WHEN doc_id % 17 = 0
         |         THEN ' card 4539 1488 0343 6467 or 4111111111111111 on file'
         |         ELSE '' END
         |    || CASE WHEN doc_id % 19 = 0
         |         THEN ' card 4539-1488-0343-6468 rejected' ELSE '' END
         |    || CASE WHEN doc_id % 23 = 0
         |         THEN ' pay DE44500105175407324931 ref' ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '${Pii.EmailRe}')) AS n_email,
         |  len(regexp_extract_all(t, '${Pii.Ipv4Re}')) AS n_ip,
         |  len(regexp_extract_all(t, '${Pii.PhoneRe}')) AS n_phone,
         |  len(regexp_extract_all(t, '${Pii.CardRe}')) AS n_card_shaped,
         |  len(list_filter(regexp_extract_all(t, '${Pii.CardRe}'),
         |    c -> ${Pii.luhn16Sql(Pii.cardDigitsSql("c"))})) AS n_card_valid,
         |  len(regexp_extract_all(t, '${Pii.IbanRe}')) AS n_iban,
         |  md5(${Pii.scrubSql("t")}) AS scrub_md5
         |FROM p ORDER BY doc_id""".stripMargin
    },

    // Replays q129 arithmetically (the q110 discipline for audio):
    // clip length + the three polynomial coefficients from md5(text),
    // sample(i) = ((s1+1)*(i+3) + (s2+1)*i*(i+7) + s3) % 16384 - 8192
    // (x2 gain for the volume variant), the 2x resample as a //sc
    // probe-index map, lag-{0,1,2,4} window energies, 28 temporal + 24
    // spectral gradient bits, 4x13-bit band candidates, hamming<=3
    // verify, min-label CC as a recursive CTE.
    "q129_audio_dedup" -> oracleSql129,

    // q129's one-shot SQL verbatim: incremental ingest must not change
    // the clustering (the q97/q118 contract for the audio index)
    "q131_incremental_audio" -> oracleSql129,

    // q129's one-shot SQL verbatim again: the STREAMED drain (per-file
    // batching, differing from q131's %3) must also reproduce it
    "q132_stream_audio_ingest" -> oracleSql129,

    // q46's stage-for-stage replay with the classifier CTEs (q124's
    // arithmetic over g2) inserted between the heuristic gates and
    // exact dedup
    "q133_pipeline_classified" -> {
      import Corpus.corpusSql
      import graft.text.TextClassify
      s"""WITH RECURSIVE $corpusSql,
         |${Corpus.rowGatesSql("corpus")},
         |cweights AS (${TextClassify.syntheticWeightsSql(ClassifierDim)}),
         |ctoks AS (SELECT doc_id, unnest($toksExpr) AS token FROM g2),
         |cbk AS (SELECT doc_id,
         |    ${TextClassify.bucketSql("token", ClassifierDim)} AS bucket
         |  FROM ctoks),
         |cscore AS (SELECT cbk.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(COALESCE(w.weight, 0)) AS BIGINT) AS score
         |  FROM cbk LEFT JOIN cweights w USING (bucket) GROUP BY 1),
         |g3 AS (SELECT g2.* FROM g2 JOIN cscore USING (doc_id)
         |  WHERE score * 1 >= -300 * n_tokens),
         |${Corpus.cleanSurvivorsSql("g3")}""".stripMargin
    },

    // q46's stage-for-stage replay with the entropy band inserted
    // between the row-local gates and exact dedup, over the q46 corpus
    // + the gate-passing spam/spew plants
    "q130_pipeline_banded" -> {
      import Corpus.corpusSql
      val spewSql = "'the ' || " + (1 to 16).map { i =>
        val b = s"md5(doc_id::VARCHAR||':p$i')"
        if (i % 2 == 0) s"upper($b)" else b
      }.mkString(" || ")
      s"""WITH RECURSIVE $corpusSql,
         |corpus2 AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT doc_id + 3000000, $spewSql
         |  FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, repeat('the spam ', 30)
         |  FROM documents WHERE doc_id % 29 = 0),
         |${Corpus.rowGatesSql("corpus2")},
         |${graft.quality.Entropy.signalsSql("g2", "doc_id", "text")},
         |g3 AS (
         |  SELECT g2.* FROM g2 JOIN entsig USING (doc_id)
         |  WHERE coll_num * ${Entropy.SpewDen}
         |      > ${Entropy.SpewNum} * CAST(n_chars * n_chars AS BIGINT)
         |    AND coll_num * ${Entropy.SpamDen}
         |      < ${Entropy.SpamNum} * CAST(n_chars * n_chars AS BIGINT)),
         |${Corpus.cleanSurvivorsSql("g3")}""".stripMargin
    },

    // sqrt-temperature thresholds re-derived relationally: the SAME op
    // order as Mixture.temperatureThresholds (T*sqrt(n) / W / n * Unit,
    // W folded in source order from 0.0), then the q93 hash gate
    "q134_temperature_mixture" -> {
      import graft.functions.PortableHash
      import graft.pipeline.Mixture
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |wsum AS (
         |  SELECT list_reduce([0.0] || list(sqrt(n::DOUBLE) ORDER BY source),
         |    (a, b) -> a + b) AS w
         |  FROM c),
         |th AS (
         |  SELECT source, n,
         |    LEAST(${Mixture.Unit}, CAST(floor(
         |      ((300::DOUBLE * sqrt(n::DOUBLE)) / wsum.w) / n::DOUBLE
         |        * ${Mixture.Unit}.0) AS BIGINT)) AS threshold
         |  FROM c, wsum)
         |SELECT d.source, t.threshold, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents d JOIN th t USING (source)
         |WHERE ${PortableHash.hash60BaseSql("d.doc_id::VARCHAR")} % ${Mixture.Unit}
         |  < t.threshold
         |GROUP BY 1, 2 ORDER BY d.source""".stripMargin
    },

    // every gate's arithmetic replayed over the same planted corpus,
    // fused into one per-source aggregate
    "q135_corpus_report" -> {
      import Corpus.{langCaseSql, langHitColsSql, qualityExprSql}
      import graft.text.Pii
      val n2 = "CAST(n_chars * n_chars AS BIGINT)"
      s"""WITH base AS (
         |  SELECT doc_id, source, text
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' reach me at user5@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 17 = 0
         |         THEN ' card 4539 1488 0343 6467 on file' ELSE '' END AS text
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, source, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 3000000, source, ${spewTextSql("doc_id")}
         |  FROM documents WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 4000000, source, repeat('spam ', 40)
         |  FROM documents WHERE doc_id % 29 = 0),
         |${graft.quality.Entropy.signalsSql("corpus", "doc_id", "text")},
         |cls AS (
         |  SELECT doc_id,
         |    CASE WHEN coll_num * ${Entropy.SpamDen}
         |           >= ${Entropy.SpamNum} * $n2 THEN 'spam'
         |         WHEN coll_num * ${Entropy.SpewDen}
         |           <= ${Entropy.SpewNum} * $n2 THEN 'spew'
         |         ELSE 'ok' END AS cls
         |  FROM entsig),
         |scored AS (
         |  SELECT c.source, c.text, cls.cls,
         |    $qualityExprSql AS quality,
         |$langHitColsSql
         |  FROM corpus c JOIN cls USING (doc_id))
         |SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len($toksExpr)) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(CASE WHEN quality >= 0.7::DOUBLE THEN 1 END) AS BIGINT)
         |    AS n_quality_ok,
         |  CAST(COUNT(CASE WHEN $langCaseSql = 'en' THEN 1 END) AS BIGINT)
         |    AS n_en,
         |  CAST(COUNT(CASE WHEN len(regexp_extract_all(text,
         |    '${Pii.EmailRe}')) > 0 THEN 1 END) AS BIGINT) AS n_pii_email,
         |  CAST(COUNT(CASE WHEN len(list_filter(regexp_extract_all(text,
         |    '${Pii.CardRe}'), c -> ${Pii.luhn16Sql(Pii.cardDigitsSql("c"))}))
         |    > 0 THEN 1 END) AS BIGINT) AS n_pii_card,
         |  CAST(COUNT(CASE WHEN cls = 'spam' THEN 1 END) AS BIGINT) AS n_spam,
         |  CAST(COUNT(CASE WHEN cls = 'spew' THEN 1 END) AS BIGINT) AS n_spew
         |FROM scored GROUP BY source ORDER BY source""".stripMargin
    }
  )

  /** q129's full DuckDB replay — shared verbatim by q131 (incremental
    * ingest must reproduce the one-shot clustering).
    */

  private lazy val oracleSql129: String =
    s"""WITH RECURSIVE ${audioFpCtesSql},
         |bands AS (
         |  SELECT rid, afp, bb.band, (afp >> (bb.band * 13)) & 8191 AS v
         |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS band) bb),
         |pairs AS (
         |  SELECT a, b FROM (
         |    SELECT DISTINCT x.rid AS a, y.rid AS b,
         |      x.afp AS ha, y.afp AS hb
         |    FROM bands x JOIN bands y
         |      ON x.band = y.band AND x.v = y.v AND x.rid < y.rid)
         |  WHERE bit_count(xor(ha, hb)) <= 3),
         |${Corpus.ccCompactSql("")}
         |SELECT f.rid AS id, f.afp,
         |  COALESCE(l.clus, f.rid) AS cluster,
         |  (COALESCE(l.clus, f.rid) <> f.rid) AS is_dup
         |FROM fp f LEFT JOIN labels l ON l.node = f.rid
         |ORDER BY f.rid""".stripMargin

}
