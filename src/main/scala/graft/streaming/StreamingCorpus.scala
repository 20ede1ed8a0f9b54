package graft.streaming

import graft.dedup.{Dedup, IncrementalLsh, LshIndex}
import graft.pipeline.CorpusPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming front door for END-TO-END corpus cleaning: documents land
  * as files, each micro-batch is GATED (quality + language + optional
  * entropy band — all per-row/per-doc, so batch-at-a-time == one-shot)
  * and the survivors fold into the incremental near-dup LSH index in
  * the same `foreachBatch` frame — land → gate → fold in one pass, no
  * second scan of the corpus.
  *
  * The final survivor set is resolved once, at end of stream, from the
  * accumulated (materialized) gate survivors and pair batches:
  * corpus-wide exact dedup and connected components are corpus-global
  * decisions, so they belong in the resolve step, not in a batch. The
  * whole composition equals the one-shot [[CorpusPipeline.clean]] —
  * hash-checked by the q126 oracle, which is q46's whole-corpus SQL
  * replay verbatim while the stream's file batching differs.
  *
  * Why the accumulated pairs need restricting in [[resolveSurvivors]]:
  * the drain folds ALL gate survivors into the index (exact duplicates
  * included — the stream can't know a later batch will bring a copy),
  * so accumulated pairs may touch docs that corpus-wide exact dedup
  * later drops. MinHash signatures, band buckets and Jaccard are
  * per-doc-pair quantities — extra corpus members add pairs but never
  * change existing ones — so restricting to pairs with BOTH endpoints
  * among the exact-dedup survivors recovers exactly the one-shot pair
  * set over those survivors.
  *
  * At 100 TB this is the continuous-ingest shape of the cleaning
  * pipeline: per-batch cost tracks the batch (gates are scans; the
  * fold shingles only the batch and probes the stored index from the
  * batch side — [[IncrementalLsh]] keeps one `(doc, shs, bands)` row
  * per doc and verifies candidates inside the band join, so no stored
  * relation is shuffled and a batch runs a fixed number of Spark
  * jobs), the index grows monotonically, and the resolve is
  * one hash-agg + one CC over materialized relations.
  */
object StreamingCorpus {

  /** Drain `stream` (columns `idCol`, `textCol`) through the gates into
    * an incremental LSH index. Returns (final index, accumulated gated
    * rows `(id, text, quality, lang_pred)`, accumulated near-dup
    * pairs). Blocks until the stream terminates (default AvailableNow).
    */
  def ingest(stream: DataFrame, idCol: String, textCol: String,
      checkpointDir: String, cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: LshIndex => Unit = _ => ()): (LshIndex, DataFrame, DataFrame) = {
    // the index state carries each batch's gate survivors, materialized
    // in the batch, next to the LSH index they fold into
    val gate = (batch: DataFrame) => CorpusPipeline.bandStages(
      CorpusPipeline.rowGates(batch, idCol, textCol, cfg),
      idCol, textCol, cfg).localCheckpoint()
    val ((idx, gated), pairs) = StreamFold.index[(LshIndex, Vector[DataFrame])](
        stream, checkpointDir, trigger, StreamingLsh.PairsSchema,
        s => onBatch(s._1))(
      { batch =>
        val g = gate(batch)
        val (i, p) = IncrementalLsh.build(g, idCol, textCol,
          cfg.jaccardThreshold)
        ((i, Vector(g)), p)
      },
      { case ((i, gs), batch) =>
        val g = gate(batch)
        val (next, p) = IncrementalLsh.addBatch(i, g, idCol, textCol,
          cfg.jaccardThreshold)
        ((next, gs :+ g), p)
      })
    (idx, gated.reduce(_ unionByName _), pairs)
  }

  /** Resolve the final survivors from accumulated gate survivors and
    * accumulated pairs — stages 2–3 of [[CorpusPipeline.clean]] over
    * materialized stream state: exact dedup (min id per content
    * fingerprint), then near-dup loser removal over the pairs
    * restricted to exact-dedup survivors (see class doc for why that
    * restriction equals the one-shot pair set).
    */
  def resolveSurvivors(gated: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String,
      cfg: CorpusPipeline.Config = CorpusPipeline.Config()): DataFrame = {
    val id = col(idCol)
    val keep = Dedup.exactGroups(gated, idCol, textCol)
      .select(col("keep_id").as(idCol))
    // localCheckpoint, not persist: the survivors feed three consumers
    // (id projection, score window, final anti-join) but a Dataset
    // persist would pin the relation in the CacheManager for the
    // session lifetime (repeat invocations accumulate). Checkpointed
    // RDD blocks are GC-cleaned once this DataFrame is unreachable.
    val exact = gated.join(keep, Seq(idCol), "left_semi")
      .localCheckpoint()
    val ids = exact.select(id)
    val pairsK = pairs.select(col("a"), col("b"))
      .join(ids.select(id.as("a")), Seq("a"), "left_semi")
      .join(ids.select(id.as("b")), Seq("b"), "left_semi")
    val losers =
      if (cfg.keepBest)
        Dedup.survivorsByScore(exact.select(id, col("quality")), idCol,
            "quality", pairsK)
          .filter(!col("kept")).select(id)
      else
        Dedup.connectedComponents(pairsK)
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id").as(idCol))
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Resolve the full RELEASE manifest (q144's semantics) from
    * accumulated stream state: exact dedup, near-dup removal at
    * `dedupThreshold` (the accumulated pairs carry jaccard, so the
    * dedup set is a filter — ingest with
    * `cfg.jaccardThreshold = splitThreshold` so the LOOSE pairs were
    * collected), near-dup decontamination against `evalDocs`,
    * leakage-safe split keyed on the loose-pair clusters, per-doc
    * token counts. Equals the one-shot [[CorpusPipeline.release]] for
    * the same reason [[resolveSurvivors]] equals `clean`: every pair
    * quantity is per-doc-pair, so restricting accumulated pairs to
    * exact-dedup survivors recovers exactly the one-shot pair set —
    * q147's oracle is q144's SQL verbatim under a different batching.
    *
    * @param trainShingles optional shingle-set relation `(doc, shs)`
    *   ([[Dedup.shingleSets]]' shape) covering AT LEAST the gate
    *   survivors — the ingest INDEX already accumulated exactly this
    *   (`idx.sets`, a `(doc, shs)` projection of the index's per-batch
    *   checkpointed `(doc, shs, bands)` rows), so the caller passes it
    *   and decontamination reuses it via a semi-join restriction
    *   instead of re-shingling the
    *   released corpus (shingling is per-doc, so the restriction
    *   equals shingling the survivors directly — the q172/q173
    *   shared-chain argument applied to the streaming door). It must
    *   be shingled at `n = 3`: the eval side is shingled at
    *   [[Dedup.shingleSets]]' default `n = 3`, which is also the `n`
    *   [[ingest]] always builds its index with. A relation shingled at
    *   any other `n` would give an asymmetric Jaccard.
    */
  def resolveRelease(gated: DataFrame, pairs: DataFrame,
      evalDocs: DataFrame, idCol: String, textCol: String,
      dedupThreshold: Double = 0.5, trainPct: Int = 90, valPct: Int = 5,
      trainShingles: Option[DataFrame] = None): DataFrame = {
    val id = col(idCol)
    val keep = Dedup.exactGroups(gated, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val exact = gated.join(keep, Seq(idCol), "left_semi")
      .localCheckpoint()
    val ids0 = exact.select(id)
    val pairsK = pairs
      .join(ids0.select(id.as("a")), Seq("a"), "left_semi")
      .join(ids0.select(id.as("b")), Seq("b"), "left_semi")
      .localCheckpoint()
    val losers = Dedup.connectedComponents(
        pairsK.filter(col("jaccard") >= dedupThreshold)
          .select(col("a"), col("b")))
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as(idCol))
    val survivors = exact.join(losers, Seq(idCol), "left_anti")
    val released = trainShingles match {
      case Some(sh) =>
        val shTrain = sh.join(survivors.select(id.as("doc")),
          Seq("doc"), "left_semi")
        val shEval = Dedup.shingleSets(evalDocs, idCol, textCol)
          .localCheckpoint()
        val hit = Dedup.crossCorpusMatchesFrom(shTrain, shEval,
            dedupThreshold)
          .select(col("a").as(idCol)).distinct()
        survivors.join(hit, Seq(idCol), "left_anti")
      case None => Dedup.decontaminateNearDup(survivors, idCol, textCol,
        evalDocs, idCol, textCol, dedupThreshold)
    }
    val relIds = released.select(id)
    val pairsSplit = pairsK.select(col("a"), col("b"))
      .join(relIds.select(id.as("a")), Seq("a"), "left_semi")
      .join(relIds.select(id.as("b")), Seq("b"), "left_semi")
    graft.pipeline.Splits.byCluster(released, idCol, pairsSplit,
        trainPct, valPct)
      .withColumn("n_tok",
        graft.text.TextAnalysis.tokenCount(col(textCol)).cast("long"))
      .select(id, col("quality"), col("lang_pred"), col("cluster"),
        col("split"), col("n_tok"))
  }
}
