package graft.multimodal

import graft.catalog.{IndexStore, ParquetCatalog}
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
  * Index state is localCheckpoint-materialized per fold (an index is
  * state, not a plan). At 100 TB of media the index is millions of rows
  * where the corpus is petabytes of payload: the decode+hash scan
  * happens once per item at ingest, never again.
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

    /** Index an initial batch of hashes; returns the index and the
      * near-pairs within it.
      */
    def build(hashes: DataFrame, maxHamming: Int = this.maxHamming,
        bands: Int = 4): (HammingIndex, DataFrame) = {
      val h = hashes.select(col("id"), col(hashCol)).localCheckpoint()
      (HammingIndex(h, bands),
        verified(candidates(h, h, bands), h, maxHamming))
    }

    /** Fold one batch in; returns the grown index and the NEW pairs
      * (those with at least one member in the batch).
      */
    def addBatch(idx: HammingIndex, hashes: DataFrame,
        maxHamming: Int = this.maxHamming): (HammingIndex, DataFrame) = {
      val newH = hashes.select(col("id"), col(hashCol)).localCheckpoint()
      val all = idx.hashes.unionByName(newH).localCheckpoint()
      (idx.copy(hashes = all),
        verified(candidates(newH, all, idx.bands), all, maxHamming))
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

    /** Rehydrate a [[save]]d index. */
    def load(catalog: ParquetCatalog, name: String, bands: Int = 4)
        : HammingIndex =
      HammingIndex(catalog.table(s"${name}_$hashCol"), bands)

    /** Cluster labels over accumulated pairs — [[Perceptual.clusters]]'
      * output shape from incremental state.
      */
    def clusters(idx: HammingIndex, pairs: DataFrame): DataFrame =
      Perceptual.labelled(idx.hashes, "id", hashCol, pairs)

    /** Candidate ids (a < b, distinct) with at least one member in
      * `newH`: new bands join ALL bands — stored-vs-stored pairs are
      * never regenerated.
      */
    private def candidates(newH: DataFrame, allH: DataFrame,
        bands: Int): DataFrame = {
      def keys(h: DataFrame, id: String, key: String) =
        Perceptual.bandKeys(h, "id", hashCol, bands, hashBits)
          .select(col("id").as(id), col("bk").as(key))
      keys(newH, "na", "kl").join(keys(allH, "nb", "kr"),
          col("kl") === col("kr") && col("na") =!= col("nb"))
        .select(least(col("na"), col("nb")).as("a"),
          greatest(col("na"), col("nb")).as("b"))
        .distinct()
    }

    /** Exact hamming verify of a candidate relation against the hash
      * store.
      */
    private def verified(cand: DataFrame, allH: DataFrame,
        maxHamming: Int): DataFrame =
      cand
        .join(allH.select(col("id").as("a"), col(hashCol).as("ha")),
          Seq("a"))
        .join(allH.select(col("id").as("b"), col(hashCol).as("hb")),
          Seq("b"))
        .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
        .select(col("a"), col("b"))
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
