package graft.dedup

import graft.catalog.{IndexStore, ParquetCatalog}
import graft.catalog.IndexStore.buildSide
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A materialized MinHash-LSH near-duplicate index, one row per
  * document per relation kind: `buckets` holds one (doc, band, bucket)
  * row per band per document, `sets` one (doc, shs) row per document
  * whose `shs` is its distinct hashed-shingle array (documents with no
  * shingle are not indexed). Both are plain DataFrames — persist them
  * as catalog tables to keep the index across sessions (they
  * round-trip losslessly: longs, long arrays and md5 strings only).
  */
final case class LshIndex(buckets: DataFrame, sets: DataFrame)

/** Incrementally maintained near-duplicate detection — the ingest path
  * for a GROWING corpus. [[Dedup.minhashNearDuplicates]] answers "which
  * pairs in this corpus are near-dups" in one pass; here the corpus
  * arrives in batches and each batch must be checked against everything
  * already indexed WITHOUT re-hashing the existing documents. The
  * MinHash-LSH steps are [[Dedup]]'s own (shingle sets, row-local
  * signatures and bands, the self-candidate join, the row-local
  * Jaccard verify); this object adds only the per-batch checkpoints
  * and the broadcast guards that keep every step a probe FROM the
  * batch-sized side, so a batch runs a fixed number of Spark jobs and
  * the stored relations are only ever scanned, never shuffled:
  *
  *   - only the new documents are shingled, signed and banded;
  *   - candidates come from the new buckets probing the stored plus new
  *     buckets — new×new and new×old collisions, never old×old (those
  *     were emitted by earlier batches);
  *   - verification fetches both members' shingle arrays by probing the
  *     stored sets with the candidate pairs.
  *
  * A batch-side relation is broadcast only when its materialized size
  * fits the session's `autoBroadcastJoinThreshold`
  * ([[graft.catalog.IndexStore.buildSide]]); a batch too large for that
  * falls back to a shuffle join rather than risk an OOM.
  *
  * Batching is exhaustive AND exactly-once: every pair of the full
  * corpus has a unique emitting batch (the later member's), so the
  * union of per-batch outputs equals the one-shot batch run — that
  * equivalence IS the q97 oracle, replayed by the same SQL as q20.
  *
  * Index relations are localCheckpoint-materialized: an index is state,
  * not a recompute recipe — candidate joins must not re-evaluate the
  * whole upstream per action, and lineage must not grow with batches.
  */
object IncrementalLsh {

  /** Index an initial corpus: [[addBatch]] onto an empty index. Returns
    * the index and the near-dup pairs within it (a < b, exact Jaccard
    * >= threshold).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, bands: Int = 6, rowsPerBand: Int = 2,
      n: Int = 3): (LshIndex, DataFrame) =
    addBatch(empty(docs, idCol), docs, idCol, textCol, threshold, bands,
      rowsPerBand, n)

  /** Fold one batch into the index; returns the grown index and the
    * NEW pairs — those with at least one member in the batch. Pairs
    * between two already-indexed documents are never re-emitted.
    */
  def addBatch(idx: LshIndex, docs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5, bands: Int = 6,
      rowsPerBand: Int = 2, n: Int = 3): (LshIndex, DataFrame) = {
    val newSets = Dedup.shingleSets(docs, idCol, textCol, n)
      .localCheckpoint()
    val newBuckets = Dedup.buckets(newSets, bands, rowsPerBand)
      .localCheckpoint()
    val allBuckets = idx.buckets.unionByName(newBuckets)
    val allSets = idx.sets.unionByName(newSets)
    // cand and withA are checkpointed so their materialized sizes can
    // pick the verify joins (see IndexStore.buildSide)
    val cand = Dedup.selfCandidates(buildSide(newBuckets), idx.buckets)
      .localCheckpoint()
    val withA = Dedup.withSet(buildSide(cand), allSets, "a")
      .localCheckpoint()
    val pairs = Dedup.verified(Dedup.withSet(buildSide(withA), allSets,
      "b"), threshold)
    (LshIndex(allBuckets, allSets), pairs)
  }

  /** Remove documents from the index: one keyed anti-join per stored
    * relation ([[graft.catalog.IndexStore.delete]]). Deleting ids that
    * were never indexed is a no-op; pairs already emitted for the
    * deleted docs are history.
    */
  def delete(idx: LshIndex, ids: DataFrame, idCol: String): LshIndex =
    LshIndex(IndexStore.delete(idx.buckets, "doc", ids, idCol),
      IndexStore.delete(idx.sets, "doc", ids, idCol))

  /** Publish the index as catalog tables `<name>_buckets` /
    * `<name>_sets` through [[graft.catalog.IndexStore.publish]]: with
    * `vacuumHistory`, repeated saves keep exactly one on-disk version
    * per relation, so the ingest loop can publish after every batch.
    */
  def save(idx: LshIndex, catalog: ParquetCatalog, name: String,
      vacuumHistory: Boolean = true): Unit =
    IndexStore.publish(catalog, vacuumHistory,
      s"${name}_buckets" -> idx.buckets, s"${name}_sets" -> idx.sets)

  /** Rehydrate a [[save]]d index through [[IndexStore.load]]. */
  def load(catalog: ParquetCatalog, name: String): LshIndex =
    LshIndex(IndexStore.load(catalog, s"${name}_buckets"),
      IndexStore.load(catalog, s"${name}_sets"))

  /** An index with no documents, keyed by `docs`' id type. */
  private def empty(docs: DataFrame, idCol: String): LshIndex = {
    val none = docs.select(col(idCol).as("doc")).limit(0)
    LshIndex(none.select(col("doc"), lit(0).as("band"), lit("").as("bucket")),
      none.select(col("doc"), typedLit(Array.empty[Long]).as("shs")))
  }
}
