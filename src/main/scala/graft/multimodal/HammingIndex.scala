package graft.multimodal

import graft.catalog.{IndexStore, ParquetCatalog}
import graft.catalog.IndexStore.buildSide
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A materialized banded-Hamming index: one (id, hash) relation — 16
  * bytes a clip or image — and its band count.
  */
final case class HammingIndex(hashes: DataFrame, bands: Int)

/** Incremental ingest for the perceptual AUDIO and IMAGE indexes — the
  * [[graft.dedup.IncrementalLsh]] contract for 52-bit [[AudioFp]]
  * fingerprints and 56-bit [[Perceptual]] dHashes. The two media differ
  * only in constants, so each is one [[Medium]] value ([[Audio]],
  * [[Image]]) over one index implementation.
  *
  * Hashes arrive in batches, only the BATCH is banded, candidates come
  * from new-vs-(stored+new) band collisions, and per-batch pair outputs
  * are exactly-once (the later member's batch emits a pair). Band
  * membership is a per-item quantity — whether two hashes share a band
  * depends on those two hashes alone — so the union over ANY batching
  * equals the one-shot [[Perceptual.hammingPairs]] run, even in the
  * band-limited regime where `maxHamming` exceeds the pigeonhole
  * guarantee. That equivalence is the q131/q151 oracle (q129's/q110's
  * SQL verbatim) and the HammingIndexSpec contract.
  *
  * Index state is the union of per-batch localCheckpoint slices (an
  * index is state, not a plan), probed only from the batch side. At
  * 100 TB of media the index is millions of rows where the corpus is
  * petabytes of payload: the decode+hash scan happens once per item at
  * ingest, never again.
  */
object HammingIndex {

  /** One hashed medium: the hash column its index stores (also its
    * catalog table suffix), the hash width, the default verify
    * threshold, and the decode+hash of a `(doc_id, payload, n_bytes)`
    * media relation into `(id, hashCol)`.
    */
  final class Medium private[HammingIndex] (val hashCol: String,
      val hashBits: Int, val maxHamming: Int,
      hashOf: DataFrame => DataFrame) {

    /** `(id, hashCol)` per media row: decode + hash in one
      * partition-wise pass.
      */
    def hashes(media: DataFrame): DataFrame =
      hashOf(media.select(col("doc_id"), col("payload"), col("n_bytes")))

    /** Index an initial batch of hashes: [[addBatch]] onto an empty
      * index. Returns the index and the near-pairs within it.
      */
    def build(hashes: DataFrame, maxHamming: Int = this.maxHamming,
        bands: Int = 4): (HammingIndex, DataFrame) =
      addBatch(HammingIndex(hashes.select(col("id"), col(hashCol)).limit(0),
        bands), hashes, maxHamming)

    /** Fold one batch in; returns the grown index and the NEW pairs
      * (those with at least one member in the batch). The stored hash
      * relation is the union of the per-batch checkpointed slices, only
      * ever the streamed side of a join whose build side is the batch's
      * band keys ([[IndexStore.buildSide]]), so it is scanned, never
      * shuffled or re-checkpointed: new band keys against themselves and
      * the stored ones give the candidates (stored-vs-stored pairs never
      * form). A band key carries its whole `(id, hash)` member, so each
      * candidate is verified where it forms ([[Perceptual.hammingPairs]]'
      * shape) and no candidate is materialized or fetched again.
      */
    def addBatch(idx: HammingIndex, hashes: DataFrame,
        maxHamming: Int = this.maxHamming): (HammingIndex, DataFrame) = {
      def keys(h: DataFrame) =
        Perceptual.bandKeys(h, "id", hashCol, idx.bands, hashBits)
          .select(struct(col("id"), col(hashCol).as("h")).as("doc"), col("bk"))
      val newH = hashes.select(col("id"), col(hashCol)).localCheckpoint()
      val pairs = Dedup.selfCandidates(keys(newH).localCheckpoint(),
          keys(idx.hashes), Seq("bk"), buildSide(_))
        .filter(bit_count(col("a.h").bitwiseXOR(col("b.h"))) <= maxHamming)
        .select(col("a.id").as("a"), col("b.id").as("b"))
      (idx.copy(hashes = idx.hashes.unionByName(newH)), pairs)
    }

    /** Remove items by id (takedowns); already-emitted pairs are the
      * caller's to reconcile.
      */
    def delete(idx: HammingIndex, ids: DataFrame, idCol: String)
        : HammingIndex =
      idx.copy(hashes = IndexStore.delete(idx.hashes, "id", ids, idCol))

    /** Publish the hash relation as `<name>_<hashCol>`; band geometry
      * is caller configuration, not state.
      */
    def save(idx: HammingIndex, catalog: ParquetCatalog, name: String,
        vacuumHistory: Boolean = true): Unit =
      IndexStore.publish(catalog, vacuumHistory,
        s"${name}_$hashCol" -> idx.hashes)

    /** Rehydrate a [[save]]d index through [[IndexStore.load]]. */
    def load(catalog: ParquetCatalog, name: String, bands: Int = 4)
        : HammingIndex =
      HammingIndex(IndexStore.load(catalog, s"${name}_$hashCol"), bands)

    /** Cluster labels over accumulated pairs — [[Perceptual.clusters]]'
      * output shape from incremental state.
      */
    def clusters(idx: HammingIndex, pairs: DataFrame): DataFrame =
      Perceptual.labelled(idx.hashes, "id", hashCol, pairs)
  }

  /** Audio clips: 52-bit spectral fingerprints, hamming <= 3. */
  val Audio: Medium = new Medium("afp", AudioFp.HashBits, 3, { m =>
    implicit val s: SparkSession = m.sparkSession
    import s.implicits._
    AudioFp.fingerprints(m.as[AudioFp.AudioMedia])
  })

  /** Images: 56-bit dHashes of the decoded bitmap, hamming <= 6. */
  val Image: Medium = new Medium("dhash", Perceptual.HashBits, 6, { m =>
    implicit val s: SparkSession = m.sparkSession
    import s.implicits._
    Perceptual.dHashes(m.as[Multimodal.BmpMedia])
  })
}
