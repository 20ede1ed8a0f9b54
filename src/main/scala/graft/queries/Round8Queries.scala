package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.quality.Entropy
import graft.sources.Tables

/** Round-8 queries. Every query replays bit-identically in the DuckDB
  * oracle.
  */
object Round8Queries {

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
      PipelineQueries.corpus(s, dir)
        .repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(stage)
      val stream = graft.streaming.StreamFold.files(s, stage)
      val (_, gated, pairs) = graft.streaming.StreamingCorpus.ingest(
        stream, "doc_id", "text", cp)
      // gated/pairs are per-batch localCheckpoint'd — the resolve plan
      // never reads the staging files, so they are deletable now
      Round7bQueries.rmTree(stage); Round7bQueries.rmTree(cp)
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
      Round7bQueries.rmTree(stage); Round7bQueries.rmTree(cp)
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
      val corpus = PipelineQueries.corpus(s, dir)
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
      CorpusPipeline.clean(PipelineQueries.corpus(s, dir), "doc_id", "text",
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

  /** q129/q131's planted clip corpus: per-doc WAV built from
    * md5(text)-derived polynomial coefficients, plus re-encoded (%3),
    * 2x-resampled (%5), and gain-doubled (%7) variants.
    */
  private[queries] def audioMedia(s: SparkSession, dir: String) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.multimodal.{AudioFp, Wav}
    {
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val h = md5(col("text"))
      // Clip samples are a quadratic-in-i polynomial mod 2^14 whose
      // THREE coefficients come from the text's md5 — a 2^42 coefficient
      // space, so clips never alias however many there are (an
      // id-multiplier formula has only 2^14 slope classes — mod-2^14
      // reduction aliases them at corpus scale, the audio analogue of
      // q110's linear-ramp lesson; found when the 64x probe's replicas
      // collided). Per-doc pseudo-noise, same derivation in the oracle.
      def hx(from: Int, len: Int) =
        conv(substring(h, from, len), 16, 10).cast("long")
      def sample(s1: Long, s2: Long, s3: Long, i: Int): Short =
        ((((s1 + 1) * (i + 3) + (s2 + 1) * i.toLong * (i + 7) + s3)
          % 16384L) - 8192L).toShort
      val base = docs
        .select(col("doc_id").cast("long").as("id"),
          (hx(1, 2).cast("int") * 8 + 512).as("n"),
          (hx(3, 4) % 16384L).as("s1"), (hx(7, 4) % 16384L).as("s2"),
          (hx(11, 4) % 16384L).as("s3"))
        .as[(Long, Int, Long, Long, Long)]
        .mapPartitions(_.map { case (id, n, s1, s2, s3) =>
          val p = Wav.encode(
            Wav.Audio(8000, 1, Array.tabulate(n)(i => sample(s1, s2, s3, i))))
          AudioFp.AudioMedia(id, p, p.length)
        })
      val orig = base.mapPartitions(_.map(m => m.copy(doc_id = m.doc_id * 4)))
      val reenc = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 3 == 0)
        .mapPartitions(_.map { m =>
          val p = Wav.encode(Wav.decode(m.payload))
          AudioFp.AudioMedia(m.doc_id * 4 + 1, p, p.length)
        })
      val resamp = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 5 == 0)
        .mapPartitions(_.map { m =>
          val a = Wav.decode(m.payload)
          val p = Wav.encode(Wav.resample(a, a.frames * 2))
          AudioFp.AudioMedia(m.doc_id * 4 + 2, p, p.length)
        })
      val gained = base.filter((m: AudioFp.AudioMedia) => m.doc_id % 7 == 0)
        .mapPartitions(_.map { m =>
          val a = Wav.decode(m.payload)
          val p = Wav.encode(a.copy(
            samples = a.samples.map(v => (v * 2).toShort)))
          AudioFp.AudioMedia(m.doc_id * 4 + 3, p, p.length)
        })
      orig.union(reenc).union(resamp).union(gained)
    }
  }

  val oracleSql: Map[String, String] = Map(

    // q46's SQL verbatim: streaming the cleaning must not change the answer
    "q126_stream_corpus_clean" -> PipelineQueries.oracleSql("q46_pipeline"),

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
      import PipelineQueries.{corpusSql, langCaseSql, langHitColsSql,
        minhashCtesSql, pairsCteSql, qualityExprSql, shinglesSql}
      import graft.text.TextClassify
      val toksExpr =
        """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
      s"""WITH RECURSIVE $corpusSql,
         |scored AS (
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
         |fp AS (SELECT doc_id, text, quality, lang_pred,
         |    md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
         |  FROM g3),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         |ex AS (SELECT fp.* FROM fp WHERE fp.doc_id IN (SELECT doc_id FROM keep)),
         |${shinglesSql("ex")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(node, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.node),
         |losers AS (
         |  SELECT node AS doc_id FROM reach
         |  GROUP BY node HAVING node <> min(lab))
         |SELECT e.doc_id, e.quality, e.lang_pred
         |FROM ex e
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
         |ORDER BY e.doc_id""".stripMargin
    },

    // q46's stage-for-stage replay with the entropy band inserted
    // between the row-local gates and exact dedup, over the q46 corpus
    // + the gate-passing spam/spew plants
    "q130_pipeline_banded" -> {
      import PipelineQueries.{corpusSql, langCaseSql, langHitColsSql,
        minhashCtesSql, pairsCteSql, qualityExprSql, shinglesSql}
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
         |scored AS (
         |  SELECT doc_id, text,
         |  $qualityExprSql AS quality,
         |$langHitColsSql
         |  FROM corpus2),
         |gated AS (
         |  SELECT doc_id, text, quality,
         |  $langCaseSql AS lang_pred
         |  FROM scored),
         |g2 AS (SELECT doc_id, text, quality, lang_pred FROM gated
         |       WHERE quality >= 0.7::DOUBLE AND lang_pred = 'en'),
         |${graft.quality.Entropy.signalsSql("g2", "doc_id", "text")},
         |g3 AS (
         |  SELECT g2.* FROM g2 JOIN entsig USING (doc_id)
         |  WHERE coll_num * ${Entropy.SpewDen}
         |      > ${Entropy.SpewNum} * CAST(n_chars * n_chars AS BIGINT)
         |    AND coll_num * ${Entropy.SpamDen}
         |      < ${Entropy.SpamNum} * CAST(n_chars * n_chars AS BIGINT)),
         |fp AS (SELECT doc_id, text, quality, lang_pred,
         |    md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS f
         |  FROM g3),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         |ex AS (SELECT fp.* FROM fp WHERE fp.doc_id IN (SELECT doc_id FROM keep)),
         |${shinglesSql("ex")},
         |$minhashCtesSql,
         |${pairsCteSql("0.5")},
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(node, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.node),
         |losers AS (
         |  SELECT node AS doc_id FROM reach
         |  GROUP BY node HAVING node <> min(lab))
         |SELECT e.doc_id, e.quality, e.lang_pred
         |FROM ex e
         |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
         |ORDER BY e.doc_id""".stripMargin
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
      import PipelineQueries.{langCaseSql, langHitColsSql, qualityExprSql}
      import graft.text.Pii
      val toksExpr =
        """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
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
  /** q129/q131/q132/q138 oracle prefix: the generative clip formulas
    * replayed down to the 52-bit spectral fingerprint — CTE chain
    * ending at `fp(rid, afp)`. rid%4=0 are originals; +1 re-encoded,
    * +2 resampled, +3 gain-doubled.
    */
  private[queries] def audioFpCtesSql: String =
    """dims AS (
         |  SELECT doc_id, ('0x'||substr(md5(text),1,2))::INT * 8 + 512 AS n,
         |    ('0x'||substr(md5(text),3,4))::BIGINT % 16384 AS s1,
         |    ('0x'||substr(md5(text),7,4))::BIGINT % 16384 AS s2,
         |    ('0x'||substr(md5(text),11,4))::BIGINT % 16384 AS s3
         |  FROM documents WHERE doc_id % 10 = 0),
         |clips AS (
         |  SELECT doc_id*4 AS rid, n, s1, s2, s3, 1 AS sc, 1 AS vol
         |  FROM dims
         |  UNION ALL SELECT doc_id*4+1, n, s1, s2, s3, 1, 1 FROM dims
         |    WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id*4+2, n, s1, s2, s3, 2, 1 FROM dims
         |    WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id*4+3, n, s1, s2, s3, 1, 2 FROM dims
         |    WHERE doc_id % 7 = 0),
         |probes AS (
         |  SELECT rid, j, j // 16 AS w,
         |    vol * ((((s1+1)*(idx+3) + (s2+1)*idx*(idx+7) + s3) % 16384)
         |      - 8192) AS p
         |  FROM (
         |    SELECT c.rid, c.s1, c.s2, c.s3, c.vol, js.j,
         |      (js.j*(c.n*c.sc)//128)//c.sc AS idx
         |    FROM clips c,
         |      (SELECT unnest(generate_series(0, 127)) AS j) js) t),
         |lagt AS (SELECT unnest([0,1,2,4]) AS lag,
         |                unnest([0,1,2,3]) AS bi),
         |en AS (
         |  SELECT x.rid, x.w, lt.bi,
         |    CAST(SUM(CASE WHEN lt.lag = 0 THEN x.p*x.p
         |             ELSE (y.p-x.p)*(y.p-x.p) END) AS BIGINT) AS e
         |  FROM probes x
         |  CROSS JOIN lagt lt
         |  JOIN probes y
         |    ON y.rid = x.rid AND y.j = x.j + lt.lag AND y.w = x.w
         |  GROUP BY 1, 2, 3),
         |fpt AS (
         |  SELECT l.rid,
         |    CAST(COALESCE(SUM(CASE WHEN r.e > l.e
         |      THEN (1::BIGINT << (l.bi*7 + l.w)) END), 0) AS BIGINT) AS ht
         |  FROM en l JOIN en r
         |    ON r.rid = l.rid AND r.bi = l.bi AND r.w = l.w + 1
         |  WHERE l.w < 7
         |  GROUP BY l.rid),
         |fpsp AS (
         |  SELECT l.rid,
         |    CAST(COALESCE(SUM(CASE WHEN r.e > l.e
         |      THEN (1::BIGINT << (28 + l.w*3 + l.bi)) END), 0) AS BIGINT)
         |      AS hs
         |  FROM en l JOIN en r
         |    ON r.rid = l.rid AND r.w = l.w AND r.bi = l.bi + 1
         |  WHERE l.bi < 3
         |  GROUP BY l.rid),
         |fp AS (SELECT t.rid, t.ht | s2.hs AS afp
         |  FROM fpt t JOIN fpsp s2 USING (rid))""".stripMargin

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
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(node, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e2.dst, r.lab FROM reach r JOIN edges e2 ON e2.src = r.node),
         |labels AS (SELECT node, min(lab) AS clus FROM reach GROUP BY node)
         |SELECT f.rid AS id, f.afp,
         |  COALESCE(l.clus, f.rid) AS cluster,
         |  (COALESCE(l.clus, f.rid) <> f.rid) AS is_dup
         |FROM fp f LEFT JOIN labels l ON l.node = f.rid
         |ORDER BY f.rid""".stripMargin

}
