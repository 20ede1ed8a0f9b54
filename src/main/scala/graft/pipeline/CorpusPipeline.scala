package graft.pipeline

import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning: the composition a 100 TB
  * pretraining pipeline actually runs, built from the engine's operators
  * in cost order —
  *
  *  1. row-local gates first (quality score, predicted language): pure
  *     codegen scans, no shuffle, maximal early row reduction;
  *  2. exact dedup (one hash-agg on the 128-bit content fingerprint +
  *     a semi join back — only ids shuffle);
  *  3. MinHash-LSH near-dup removal on the survivors (linear in corpus +
  *     candidate pairs; keep-smallest-id policy, losers anti-joined out).
  *
  * Every stage is deterministic, so the whole composition replays in the
  * DuckDB oracle (q46).
  */
object CorpusPipeline {

  /** @param keepBest near-dup survivor policy: false = each cluster
    *   keeps its minimum id; true = each cluster keeps its
    *   HIGHEST-quality member (ties -> lowest id) via
    *   [[graft.dedup.Dedup.survivorsByScore]] — the quality-aware
    *   policy, reusing the quality score stage 1 already computed.
    */
  /** @param collisionBand optional order-0 entropy gate
    *   (spewNum, spewDen, spamNum, spamDen): drop documents whose
    *   character collision index is <= spewNum/spewDen (random spew) or
    *   >= spamNum/spamDen (repeated boilerplate) — see
    *   [[graft.quality.Entropy]]. Runs after the row-local gates (it
    *   costs a per-character aggregation, so it sees the reduced set)
    *   and before dedup. None (default) preserves the historical
    *   pipeline exactly.
    */
  /** Model-based quality gate: a trained hashed-linear classifier
    * ([[graft.text.TextClassify]]) applied after the heuristic gates —
    * the fastText-gate shape production pipelines run last because it
    * is the costliest per document. `weights` is the (bucket, weight)
    * relation; keep iff `score * thresholdDen >= thresholdNum * n_tokens`.
    */
  case class ClassifierGate(weights: DataFrame, dim: Int,
      thresholdNum: Long, thresholdDen: Long)

  /** CCNet-style reference-LM familiarity gate (Wenzek et al. 2020):
    * FITTED stupid-backoff counts ([[graft.text.Repetition.LmCounts]],
    * frozen — the fit/apply split) + a minimum MEAN per-context score
    * in ppm, compared as the exact integer
    * `score_sum ≥ minScorePpm · n_ctx` (mean ≥ threshold without the
    * division). Drops out-of-distribution text the heuristic gates
    * cannot see; per-doc against frozen state, so batch-at-a-time ==
    * one-shot and the streaming front door applies it unchanged.
    */
  case class FamiliarityGate(counts: graft.text.Repetition.LmCounts,
      minScorePpm: Long)

  /** @param dsir optional stage-1d DSIR importance-resampling gate: a
    *   FITTED [[Dsir.Model]] (frozen ratio table + mean normalizer)
    *   applied after the classifier gate — the "make the mixture look
    *   like the target" sampler as a pipeline stage. Per-doc against
    *   frozen state, so batch-at-a-time == one-shot and the streaming
    *   front door applies it unchanged (the q133 classifier argument).
    *   None (default) preserves the historical pipeline exactly.
    */
  /** @param htmlInput stage-0 markup extraction: the text column holds
    *   raw HTML and [[graft.text.Html.extractText]] runs first (tag
    *   strip + link-density boilerplate gate). Per-document, so the
    *   streaming front door applies it batch-at-a-time unchanged; it
    *   lives inside [[rowGates]] — the one shared per-row entry — so
    *   every consumer (clean/release/funnelReport/StreamingCorpus)
    *   gets it from the single wiring point. Default off: the
    *   historical pipeline takes clean text.
    */
  /** Stage-1b3 C4-rule gate parameters ([[graft.text.C4Quality]]):
    * the published line rules + page gates as a band stage. Like the
    * Gopher stage, the THRESHOLDS are the paper's and the bad-word
    * list is a corpus property. The stage GATES on `c4_keep` (the
    * retained-line rewrite stays a standalone operator — rewriting
    * text mid-pipeline would silently change the dedup fingerprints
    * downstream; the host-boilerplate scrub is the sanctioned
    * pre-pipeline rewrite point).
    */
  case class C4Gate(minWordsPerLine: Int = 3, minSentences: Long = 5L,
      badWords: Seq[String] = Nil)

  /** Trained language gate ([[graft.text.LangClassifier]]): a FITTED
    * char-trigram model REPLACES the marker-regex language filter —
    * when set, [[rowGates]] skips its `lang_pred` keep test (the regex
    * stays computed, as a visible column) and stage 1a2 keeps exactly
    * the docs whose trained prediction is in `keep`. Per-doc against a
    * frozen broadcast model, so batch-at-a-time == one-shot and the
    * streaming front door applies it unchanged.
    */
  case class LangGate(model: graft.text.LangClassifier.Model,
      keep: Seq[String])

  case class Config(
      minQuality: Double = 0.7,
      languages: Seq[String] = Seq("en"),
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "is"),
      jaccardThreshold: Double = 0.5,
      keepBest: Boolean = false,
      collisionBand: Option[(Long, Long, Long, Long)] = None,
      gopher: Option[(Long, Long)] = None,
      c4: Option[C4Gate] = None,
      classifier: Option[ClassifierGate] = None,
      dsir: Option[Dsir.Model] = None,
      familiarity: Option[FamiliarityGate] = None,
      langGate: Option[LangGate] = None,
      htmlInput: Boolean = false)

  /** Stage-1 row-local gates (quality score + predicted language): a
    * pure codegen scan emitting `(id, text, quality, lang_pred)` for
    * the admitted rows. Shared by [[clean]] and the streaming front
    * door ([[graft.streaming.StreamingCorpus]]) — per-row logic, so
    * batch-at-a-time application over any partitioning of the corpus
    * produces exactly the one-shot result.
    */
  def rowGates(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = {
    // stage 0: markup → article text (per-doc; see Config.htmlInput)
    val src = if (cfg.htmlInput)
      graft.text.Html.extractText(docs, idCol, textCol) else docs
    val scanned = src.select(col(idCol), col(textCol),
        TextAnalysis.qualityScore(col(textCol), cfg.stopwords).as("quality"),
        TextAnalysis.langId(col(textCol)).as("lang_pred"))
      .filter(col("quality") >= cfg.minQuality)
    // the trained gate (stage 1a2), when configured, REPLACES the
    // marker-regex keep test — see Config.langGate
    if (cfg.langGate.isDefined) scanned
    else scanned.filter(col("lang_pred").isin(cfg.languages: _*))
  }

  /** Stage-1a2 optional TRAINED language gate (see [[LangGate]]) —
    * runs first among the band stages, where the regex filter it
    * replaces would have run. Docs under 3 chars produce no trigram
    * row and drop — unreachable after the quality gate's 5-token
    * minimum.
    */
  def langGateStage(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.langGate match {
    case None => gated
    case Some(g) =>
      val ok = graft.text.LangClassifier.classify(
          gated.select(col(idCol), col(textCol)), idCol, textCol, g.model)
        .filter(col("lang_trained").isin(g.keep: _*))
        .select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** Stage-1b optional entropy band over gate survivors (per-document
    * aggregation — independent of corpus batching, like [[rowGates]]).
    */
  def entropyBand(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.collisionBand match {
    case None => gated
    case Some((spewNum, spewDen, spamNum, spamDen)) =>
      val ok = graft.quality.Entropy.gate(gated, idCol, textCol,
          spewNum, spewDen, spamNum, spamDen)
        .filter(col("keep")).select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** Stage-1c optional classifier gate over the band survivors (also
    * per-document: the score is a function of the doc's own tokens and
    * the broadcast weights relation, so batch-at-a-time == one-shot).
    * Documents with zero tokens produce no score row and are dropped —
    * unreachable after the quality gate's 5-token minimum.
    */
  /** Stage-1b2 optional GOPHER-rule gate (Rae et al. Table A1 quality
    * half — [[graft.text.GopherQuality.signals]]' exact-integer keep
    * bit as a `(minTok, maxTok)`-parameterized band; per-document
    * aggregation, so batch-at-a-time == one-shot like every band
    * stage).
    */
  def gopherGate(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.gopher match {
    case None => gated
    case Some((minTok, maxTok)) =>
      // the stop-word rule reads the pipeline's own marker list
      // (cfg.stopwords), not Gopher's English eight — the list is a
      // corpus property, the published thresholds are not
      val ok = graft.text.GopherQuality.signals(gated, idCol, textCol,
          minTok, maxTok, cfg.stopwords)
        .filter(col("gopher_keep")).select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** Stage-1b3 optional C4-rule gate over the Gopher survivors
    * (per-document: line explode + doc-keyed re-aggregation, so
    * batch-at-a-time == one-shot like every band stage).
    */
  def c4Gate(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.c4 match {
    case None => gated
    case Some(g) =>
      val ok = graft.text.C4Quality.clean(gated, idCol, textCol,
          g.badWords, g.minWordsPerLine, g.minSentences)
        .filter(col("c4_keep")).select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  def classifierGate(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.classifier match {
    case None => gated
    case Some(c) =>
      val ok = graft.text.TextClassify.hashedLinear(gated, idCol, textCol,
          c.weights, c.dim, c.thresholdNum, c.thresholdDen)
        .filter(col("keep")).select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** Stage-1d optional DSIR gate over the classifier survivors (also
    * per-document: importance is a function of the doc's own features
    * and the broadcast frozen ratio table; the keep verdict is the
    * deterministic hash gate against the frozen normalizer).
    */
  def dsirGate(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.dsir match {
    case None => gated
    case Some(m) =>
      val ok = Dsir.applyModel(m, gated, idCol, textCol)
        .filter(col("keep")).select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** Stage-1e optional LM-familiarity gate over the DSIR survivors
    * (the costliest per-doc stage — five keyed joins against the
    * frozen count relations — so it runs last and sees the smallest
    * set). Docs under 3 tokens produce no score row and would drop,
    * but are unreachable after the quality gate's 5-token minimum.
    */
  def familiarityGate(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = cfg.familiarity match {
    case None => gated
    case Some(f) =>
      val ok = graft.text.Repetition.backoffScoreWith(f.counts,
          gated.select(col(idCol), col(textCol)), idCol, textCol)
        .filter(col("score_sum") >= col("n_ctx") * f.minScorePpm)
        .select(col(idCol))
      gated.join(ok, Seq(idCol), "left_semi")
  }

  /** The optional per-doc band stages in ascending per-doc cost —
    * entropy band → classifier → DSIR → LM familiarity — as ONE
    * composition shared by [[stages]] and the streaming front door
    * ([[graft.streaming.StreamingCorpus]]): a stage added here reaches
    * every consumer (each stage is per-doc against frozen state, so
    * per-batch application over any partitioning equals the one-shot).
    */
  def bandStages(gated: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame =
    familiarityGate(dsirGate(classifierGate(c4Gate(gopherGate(
      entropyBand(langGateStage(gated, idCol, textCol, cfg),
        idCol, textCol, cfg), idCol, textCol, cfg),
      idCol, textCol, cfg), idCol, textCol, cfg), idCol, textCol, cfg),
      idCol, textCol, cfg)

  /** Stage-boundary relations of one run of the verified pipeline
    * chain — the single implementation [[clean]], [[release]], and
    * [[funnelReport]] all consume, so a stage added to the pipeline
    * cannot silently desynchronize its consumers (the round-9 dsirGate
    * addition had to be wired in three places; never again).
    * `gated`/`exact` are persisted and `pairs` is localCheckpoint-
    * materialized — caller-managed eviction, same contract as
    * minhashNearDuplicates. `shingles` is the exact-dedup survivors'
    * shingle-set relation `(doc, shs)` ([[Dedup.shingleSets]]' shape).
    */
  case class Stages(gated: DataFrame, banded: DataFrame,
      exact: DataFrame, shingles: DataFrame, pairs: DataFrame,
      losers: DataFrame) {
    /** Final pipeline survivors: exact-dedup set minus near-dup losers. */
    def survivors(idCol: String): DataFrame =
      exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Run the shared stage chain: row-local gates (+ optional entropy
    * band / classifier / DSIR stages in ascending per-doc cost) →
    * exact dedup (min id per content fingerprint) → ONE shingle/LSH
    * pass verified at `pairThreshold` (default: the dedup threshold;
    * [[release]] passes its looser splitThreshold and reuses the same
    * pair relation for split keying) → near-dup losers at
    * `cfg.jaccardThreshold` under the `cfg.keepBest` policy (false:
    * each CC cluster keeps its minimum id — a~b, b~c drops both b AND
    * c though (a,c) never met in a bucket; true: keep the
    * highest-quality member).
    *
    * Persist discipline: the gate scan feeds the fingerprint
    * aggregate, the semi-join probe side, the shingle pipeline and the
    * final anti join — persisting `gated` once makes every downstream
    * consumer a cache read instead of a gate recompute; `exact` feeds
    * both the pair pipeline and the survivor anti join; `pairs` feeds
    * up to three consumers (dedup subset, CC loop, split restriction).
    */
  /** @param preGated optional PRECOMPUTED stage-1 relation — must
    *   equal `rowGates(docs, idCol, textCol, cfg)` (the caller owns
    *   that equality and the persistence). Row gates are per-row, so a
    *   caller running several chains over slices of one corpus (e.g.
    *   the q172/q173 double-release replay) computes the gate scan
    *   ONCE over the superset and passes each chain its filtered view.
    * @param preShingles optional shingle-set relation `(doc, shs)`
    *   ([[Dedup.shingleSets]]' shape) covering AT LEAST this chain's
    *   exact-dedup survivors (shingling is per-doc, so the semi-join
    *   restriction to the survivors equals `shingleSets(exact)`
    *   exactly) — same sharing rationale, caller-persisted.
    */
  def stages(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config(),
      pairThreshold: Option[Double] = None,
      preGated: Option[DataFrame] = None,
      preShingles: Option[DataFrame] = None): Stages = {
    val id = col(idCol)
    val gated = preGated.getOrElse(rowGates(docs, idCol, textCol, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = bandStages(gated, idCol, textCol, cfg)
    val keep = Dedup.exactGroups(banded, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val exact = banded.join(keep, Seq(idCol), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the corpus shingle sets are computed ONCE here and exposed on
    // Stages:
    // near-dup pairing consumes them below, and [[release]]'s
    // decontamination reuses them for the train side (re-shingling the
    // released corpus per consumer doubled the release chain's scan
    // work — the round-18 bench tail)
    // when the caller provides (and persists) preShingles, the
    // semi-join-restricted view is NOT re-persisted: its two consumers
    // (the pair pipeline below, release's shTrain) each recompute one
    // cheap semi join against the caller's cached parent — re-caching
    // the restriction only stacked a third pinned copy per chain
    // (round-19 ADVICE)
    val sh = preShingles.map(_.join(exact.select(id.as("doc")),
        Seq("doc"), "left_semi"))
      .getOrElse(Dedup.shingleSets(exact, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val pairsAll = Dedup.minhashNearDuplicatesFrom(sh,
        threshold = pairThreshold.getOrElse(cfg.jaccardThreshold))
      .localCheckpoint()
    val pairsDedup = pairsAll
      .filter(col("jaccard") >= cfg.jaccardThreshold)
      .select(col("a"), col("b"))
    val losers =
      if (cfg.keepBest)
        Dedup.survivorsByScore(exact.select(id, col("quality")), idCol,
            "quality", pairsDedup)
          .filter(!col("kept")).select(id)
      else
        Dedup.connectedComponents(pairsDedup)
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as(idCol))
    Stages(gated, banded, exact, sh, pairsAll, losers)
  }

  /** Clean `docs`, returning the surviving rows (id, text) plus the
    * quality/language signals that admitted them.
    */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    stages(docs, idCol, textCol, cfg).survivors(idCol)

  /** MULTI-LANGUAGE ROUTING — [[clean]]'s survivor set split into
    * per-language sub-corpora by the SAME frozen trained classifier
    * the gate used (`cfg.langGate` is required): the shape a
    * multilingual training mix needs, one corpus per label feeding
    * its own mixture weight. Because routing re-applies the gate's
    * own per-doc model, every survivor lands in EXACTLY ONE sub-corpus
    * and its label is the one that admitted it — the per-language
    * funnels PARTITION the survivor set by construction (their union
    * is [[clean]]'s output, their pairwise intersections empty).
    * Per-doc against a broadcast model: batch == one-shot, so the
    * streaming front door routes the same way.
    *
    * Output: the survivor columns plus `lang_routed`.
    */
  def routeByLanguage(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = {
    val g = cfg.langGate.getOrElse(throw new IllegalArgumentException(
      "routeByLanguage requires a trained langGate in the Config"))
    val survivors = clean(docs, idCol, textCol, cfg)
    survivors.join(
      graft.text.LangClassifier.classify(
          survivors.select(col(idCol), col(textCol)), idCol, textCol,
          g.model)
        .select(col(idCol), col("lang_trained").as("lang_routed")),
      Seq(idCol))
  }

  /** Per-source CLEANING FUNNEL report — where each source's documents
    * fall out of the pipeline: `(srcCol, n_in, n_gated, n_exact,
    * n_final)` counting survivors after the row gates (+ optional
    * band/classifier/DSIR stages), after exact dedup, and after
    * near-dup removal. The release-review companion of the q135 health
    * dashboard: a source losing most of its mass to near-dup removal
    * is a crawler re-fetching the same pages; one dying at the gates
    * is a format change.
    *
    * Runs the same verified stage chain as [[clean]] and aggregates
    * each stage's member set per source (three keyed joins against the
    * (id, source) projection + one count each; stage keys renamed
    * before joining — the self-lineage dedup hazard).
    */
  def funnelReport(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, cfg: Config = Config()): DataFrame = {
    val id = col(idCol)
    val base = docs.select(id, col(srcCol))
    val st = stages(docs.select(id, col(textCol)), idCol, textCol, cfg)
    val (gated, exact) = (st.banded, st.exact)
    val fin = st.survivors(idCol)
    def cnt(ids: DataFrame, as: String): DataFrame =
      ids.select(id).join(base, Seq(idCol))
        .groupBy(col(srcCol).as(s"__s_$as"))
        .agg(count(lit(1)).as(as))
    val src = col(srcCol)
    base.groupBy(src).agg(count(lit(1)).as("n_in"))
      .join(cnt(gated, "n_gated"), src === col("__s_n_gated"), "left")
      .join(cnt(exact, "n_exact"), src === col("__s_n_exact"), "left")
      .join(cnt(fin, "n_final"), src === col("__s_n_final"), "left")
      .select(src, col("n_in"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_final"), lit(0L)).as("n_final"))
  }

  /** One-call TRAINING-DATA RELEASE MANIFEST — the whole front-to-back
    * decision chain a data release runs, composed from the verified
    * stages: row gates → exact dedup → near-dup removal at
    * `cfg.jaccardThreshold` → near-dup DECONTAMINATION against
    * `evalDocs` → leakage-safe split → per-doc token counts. Output:
    * one row per released document `(id, quality, lang_pred, cluster,
    * split, n_tok)` — feed the train slice to TokenBudget/Packing
    * (q96/q91) for the loader artifacts.
    *
    * The split is guarded at a LOOSER similarity than the dedup
    * (`splitThreshold`, default 0.3): dedup removes pairs above 0.5,
    * so survivors cannot straddle at 0.5 — but weaker relatives
    * (0.3–0.5) still leak if split independently. ONE shingle/LSH
    * pass serves both: pairs are verified once at `splitThreshold`,
    * the dedup set is its `jaccard >= cfg.jaccardThreshold` subset,
    * and the loose pairs restricted to the released docs key the
    * cluster-granular split ([[Splits.byCluster]]).
    *
    * Scale shape: every stage is the same bucketed machinery as
    * [[clean]] (nothing new shuffles); the pair relation is
    * localCheckpoint-materialized once for its three consumers (dedup
    * subset, CC loop, split restriction). Persisted gate/exact caches
    * follow [[clean]]'s caller-managed-eviction contract.
    *
    * @param evalShingles optional shingle-set relation `(doc, shs)` of
    *   `evalDocs` ([[Dedup.shingleSets]] at `n = 3`), caller-persisted;
    *   derived and persisted here when absent.
    * @param preGated see [[stages]]
    * @param preShingles see [[stages]]: a `(doc, shs)` relation
    */
  def release(docs: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, cfg: Config = Config(),
      splitThreshold: Double = 0.3, trainPct: Int = 90, valPct: Int = 5,
      evalShingles: Option[DataFrame] = None,
      preGated: Option[DataFrame] = None,
      preShingles: Option[DataFrame] = None): DataFrame = {
    require(splitThreshold <= cfg.jaccardThreshold,
      "splitThreshold must not exceed the dedup threshold (the loose " +
        "pair set must contain the dedup pair set)")
    val id = col(idCol)
    val st = stages(docs, idCol, textCol, cfg, Some(splitThreshold),
      preGated, preShingles)
    // decontamination REUSES the stage chain's corpus shingle sets (the
    // survivor restriction is a semi join — shingling is per-doc, so
    // the restricted relation equals shingleSets(survivors)); the
    // eval side may arrive precomputed (`evalShingles` — a caller
    // diffing several releases against ONE eval set materializes it
    // once; see q172/q173) or is derived here.
    val surv = st.survivors(idCol)
    val shTrain = st.shingles.join(
      surv.select(id.as("doc")), Seq("doc"), "left_semi")
    val shEval = evalShingles.getOrElse(
      Dedup.shingleSets(evalDocs, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hit = Dedup.crossCorpusMatchesFrom(shTrain, shEval,
        cfg.jaccardThreshold)
      .select(col("a").as(idCol)).distinct()
    val released = surv.join(hit, Seq(idCol), "left_anti")
    val ids = released.select(id)
    val pairsSplit = st.pairs.select(col("a"), col("b"))
      .join(ids.select(id.as("a")), Seq("a"), "left_semi")
      .join(ids.select(id.as("b")), Seq("b"), "left_semi")
    Splits.byCluster(released, idCol, pairsSplit, trainPct, valPct)
      .withColumn("n_tok",
        TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .select(id, col("quality"), col("lang_pred"), col("cluster"),
        col("split"), col("n_tok"))
  }

  /** RELEASE-OVER-RELEASE DIFF — the operations question "what changed
    * between release vN and vN+1?" answered from two [[release]]
    * manifests: one row per document whose release status changed.
    *
    *   - `op = 'added'`: in `next` only (new source data, or a dedup/
    *     decontamination survivor displaced the other way);
    *   - `op = 'removed'`: in `prev` only (gated out, deduped away, or
    *     displaced by a new lower-id duplicate — removal of a doc is
    *     NOT only caused by deleting it upstream);
    *   - `op = 'split_moved'`: released in both but the leakage-safe
    *     split reassigned it (new near-dup edges re-cluster documents,
    *     and the cluster-keyed split hash moves with the cluster — the
    *     churn a training run must know about, since a doc moving
    *     test→train invalidates eval history);
    *   - `op = 'changed'`: released in both splits unchanged, but
    *     `n_tok` differs (upstream text edit).
    *
    * Cluster LABELS are deliberately not compared: they are internal
    * min-id names, and membership renumbering without a split move is
    * not churn a consumer observes. One full-outer join keyed on the
    * id — the [[graft.scd.SnapshotDiff]] shape with both sides' values
    * preserved (a diff consumer needs split_a AND split_b, not just
    * the surviving value).
    */
  def releaseDiff(prev: DataFrame, next: DataFrame,
      idCol: String): DataFrame = {
    val a = prev.select(col(idCol).as("__ida"), col("split").as("split_a"),
      col("n_tok").as("n_tok_a"))
    val b = next.select(col(idCol).as("__idb"), col("split").as("split_b"),
      col("n_tok").as("n_tok_b"))
    a.join(b, col("__ida") === col("__idb"), "full_outer")
      .withColumn("op",
        when(col("__ida").isNull, lit("added"))
          .when(col("__idb").isNull, lit("removed"))
          .when(!(col("split_a") <=> col("split_b")), lit("split_moved"))
          .when(!(col("n_tok_a") <=> col("n_tok_b")), lit("changed"))
          .otherwise(lit(null)))
      .filter(col("op").isNotNull)
      .select(coalesce(col("__ida"), col("__idb")).as(idCol), col("op"),
        col("split_a"), col("split_b"), col("n_tok_a"), col("n_tok_b"))
  }

  /** [[releaseDiff]] between two CATALOG VERSIONS of a published
    * release-manifest table — the time-travel composition (q62's diff
    * posture + `graft_table_at`'s snapshot reads): releases publish
    * through [[graft.catalog.ParquetCatalog]]'s atomic pointer swap,
    * every historical version stays readable, so "diff vN vs vN+1" is
    * two snapshot reads and one join, with no recompute of either
    * release.
    */
  def releaseDiffAt(catalog: graft.catalog.ParquetCatalog, table: String,
      vPrev: Long, vNext: Long, idCol: String): DataFrame =
    releaseDiff(catalog.tableAsOfVersion(table, vPrev),
      catalog.tableAsOfVersion(table, vNext), idCol)

  /** Per-source roll-up of a [[releaseDiff]]: `(srcCol, n_added,
    * n_removed, n_split_moved, tok_delta)` — the release-review
    * dashboard row ("source X lost 40% of its tokens this release").
    * `srcOf` maps ids to sources; `tok_delta` is the net token change
    * across ALL diff rows of the source (added − removed ± edits).
    */
  def releaseDiffSummary(diff: DataFrame, srcOf: DataFrame,
      idCol: String, srcCol: String): DataFrame =
    diff.join(srcOf, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(
        sum(when(col("op") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("op") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("op") === "split_moved", 1L).otherwise(0L))
          .as("n_split_moved"),
        sum(coalesce(col("n_tok_b"), lit(0L)) -
          coalesce(col("n_tok_a"), lit(0L))).as("tok_delta"))
}
