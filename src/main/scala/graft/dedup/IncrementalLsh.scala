package graft.dedup

import graft.catalog.{IndexStore, ParquetCatalog}
import graft.catalog.IndexStore.buildSide
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A materialized MinHash-LSH near-duplicate index: one `(doc, shs,
  * bands)` row per document — its distinct hashed-shingle array and
  * its `(band, bucket)` LSH keys (documents with no shingle are not
  * indexed). A plain DataFrame: persist it as one catalog table to keep
  * the index across sessions (it round-trips losslessly: longs, long
  * arrays and md5 strings only).
  */
final case class LshIndex(rows: DataFrame) {

  /** The `(doc, shs)` shingle sets ([[Dedup.shingleSets]]' shape), a
    * projection of the stored rows.
    */
  def sets: DataFrame = rows.select(col("doc"), col("shs"))
}

/** Incrementally maintained near-duplicate detection — the ingest path
  * for a GROWING corpus. [[Dedup.minhashNearDuplicates]] answers "which
  * pairs in this corpus are near-dups" in one pass; here the corpus
  * arrives in batches and each batch must be checked against everything
  * already indexed WITHOUT re-hashing the existing documents. The
  * MinHash-LSH steps are [[Dedup]]'s own (shingle sets, row-local band
  * keys, the self-candidate join, the row-local Jaccard verify); this
  * object adds only the one per-batch checkpoint and the broadcast
  * guard that keeps the band join a probe FROM the batch-sized side, so
  * a batch runs a fixed number of Spark jobs and the stored relation is
  * only ever scanned, never shuffled:
  *
  *   - only the new documents are shingled and banded, and their rows
  *     are the batch's one checkpoint;
  *   - each band key carries its whole `(doc, shs)` member, so the new
  *     keys probing the stored plus new keys give candidates with both
  *     sets attached — new×new and new×old collisions, never old×old
  *     (those were emitted by earlier batches) — and each candidate's
  *     Jaccard is computed in the same plan, with no fetch of a set.
  *
  * The broadcast side is the explode of the batch's checkpoint, one
  * set copy per band, so [[graft.catalog.IndexStore.buildSide]] weighs
  * the measured checkpoint by `bands` against the session's
  * `autoBroadcastJoinThreshold`; a batch too large for that falls back
  * to a shuffle join rather than risk an OOM.
  *
  * Batching is exhaustive AND exactly-once: every pair of the full
  * corpus has a unique emitting batch (the later member's), so the
  * union of per-batch outputs equals the one-shot batch run — that
  * equivalence IS the q97 oracle, replayed by the same SQL as q20.
  *
  * The stored relation is the union of the per-batch localCheckpoint
  * slices: an index is state, not a recompute recipe — the band join
  * must not re-evaluate the whole upstream per action, and lineage
  * must not grow with batches.
  */
object IncrementalLsh {

  /** Index an initial corpus: [[addBatch]] onto an empty index. Returns
    * the index and the near-dup pairs within it (a < b, exact Jaccard
    * >= threshold).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, bands: Int = 6, rowsPerBand: Int = 2,
      n: Int = 3): (LshIndex, DataFrame) =
    addBatch(LshIndex(rowsOf(docs, idCol, textCol, bands, rowsPerBand, n)
        .limit(0)), docs, idCol, textCol, threshold, bands, rowsPerBand, n)

  /** Fold one batch into the index; returns the grown index and the
    * NEW pairs — those with at least one member in the batch. Pairs
    * between two already-indexed documents are never re-emitted.
    */
  def addBatch(idx: LshIndex, docs: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5, bands: Int = 6,
      rowsPerBand: Int = 2, n: Int = 3): (LshIndex, DataFrame) = {
    def keys(rows: DataFrame) =
      Dedup.bandKeys(rows, struct(col("doc"), col("shs")))
    val newRows = rowsOf(docs, idCol, textCol, bands, rowsPerBand, n)
      .localCheckpoint()
    val pairs = Dedup.verified(
      Dedup.selfCandidates(keys(newRows), keys(idx.rows),
          hint = buildSide(_, bands))
        .select(col("a.doc").as("a"), col("b.doc").as("b"),
          col("a.shs").as("sa"), col("b.shs").as("sb")),
      threshold)
    (LshIndex(idx.rows.unionByName(newRows)), pairs)
  }

  /** Remove documents from the index: one keyed anti-join
    * ([[graft.catalog.IndexStore.delete]]). Deleting ids that were
    * never indexed is a no-op; pairs already emitted for the deleted
    * docs are history.
    */
  def delete(idx: LshIndex, ids: DataFrame, idCol: String): LshIndex =
    LshIndex(IndexStore.delete(idx.rows, "doc", ids, idCol))

  /** Publish the index as the catalog table `<name>_rows` through
    * [[graft.catalog.IndexStore.publish]]: with `vacuumHistory`,
    * repeated saves keep exactly one on-disk version, so the ingest
    * loop can publish after every batch.
    */
  def save(idx: LshIndex, catalog: ParquetCatalog, name: String,
      vacuumHistory: Boolean = true): Unit =
    IndexStore.publish(catalog, vacuumHistory, s"${name}_rows" -> idx.rows)

  /** Rehydrate a [[save]]d index through [[IndexStore.load]]. */
  def load(catalog: ParquetCatalog, name: String): LshIndex =
    LshIndex(IndexStore.load(catalog, s"${name}_rows"))

  /** The `(doc, shs, bands)` index rows of `docs`. */
  private def rowsOf(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, n: Int): DataFrame =
    Dedup.banded(Dedup.shingleSets(docs, idCol, textCol, n), bands,
      rowsPerBand)
}
