package graft.text

import graft.catalog.{IndexStore, ParquetCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ingest for the WINNOWING provenance index — the
  * [[graft.dedup.IncrementalLsh]] contract for [[Winnow]] fingerprints,
  * completing the incremental family (text-LSH, semantic, audio,
  * winnow): documents arrive in batches, only the BATCH is
  * fingerprinted, match pairs come from new-vs-(stored+new)
  * fingerprint collisions, and per-batch outputs are exactly-once (the
  * later member's batch emits a pair, with its FULL shared-mass and
  * position extents — a pair's shared-fingerprint set is fixed once
  * both documents exist, so later corpus growth cannot change an
  * emitted row). The union over any batching therefore equals the
  * one-shot [[Winnow.matches]] — that equivalence is the q149 oracle
  * and the IncrementalWinnowSpec contract.
  *
  * No `maxDf` hot-fingerprint cap here: the cap is a property of the
  * FULL corpus's document frequencies, which batch-time emission
  * cannot know — apply it at resolve time by filtering the
  * accumulated match relation, or use the one-shot [[Winnow.matches]]
  * when a capped relation is required.
  *
  * Index state is one (id, pos, fp) relation — ~2/(w+1) of the gram
  * count — localCheckpoint-materialized per fold. At 100 TB the
  * tokenize+fingerprint scan happens once per document at ingest; the
  * match join is fp-keyed (collision-bucketed, never all-pairs).
  */
object IncrementalWinnow {

  /** @param fps (id, pos, fp) selected fingerprints, materialized */
  final case class WinnowIndex(fps: DataFrame, k: Int, w: Int)

  /** Matches with at least one endpoint in `newFps`: batch
    * fingerprints join ALL fingerprints; rows normalize to (a < b)
    * with position columns following their side, and the full-combo
    * distinct removes the double orientation new-new pairs surface
    * under (each (fp, occurrence-a, occurrence-b) combo is one row,
    * matching [[Winnow.matches]]' combo counting).
    */
  private def matchesNew(newFps: DataFrame, all: DataFrame,
      minShared: Int): DataFrame = {
    val swap = col("x") > col("y")
    newFps.select(col("id").as("x"), col("fp"), col("pos").as("pos_x"))
      .join(all.select(col("id").as("y"), col("fp"),
        col("pos").as("pos_y")), Seq("fp"))
      .filter(col("x") =!= col("y"))
      .select(col("fp"),
        when(swap, col("y")).otherwise(col("x")).as("a"),
        when(swap, col("pos_y")).otherwise(col("pos_x")).as("pos_a"),
        when(swap, col("x")).otherwise(col("y")).as("b"),
        when(swap, col("pos_x")).otherwise(col("pos_y")).as("pos_b"))
      .distinct()
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("pos_a")).as("a_from"), max(col("pos_a")).as("a_to"),
        min(col("pos_b")).as("b_from"), max(col("pos_b")).as("b_to"))
      .filter(col("n_shared") >= minShared)
  }

  /** Index an initial corpus; returns the index and the matches within
    * it (a < b, >= minShared shared fingerprints, position extents).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2)
      : (WinnowIndex, DataFrame) = {
    val fps = Winnow.fingerprints(docs, idCol, textCol, k, w)
      .withColumnRenamed(idCol, "id").localCheckpoint()
    (WinnowIndex(fps, k, w), matchesNew(fps, fps, minShared))
  }

  /** Fold one batch in; returns the grown index and the NEW matches
    * (those with at least one member in the batch).
    */
  def addBatch(idx: WinnowIndex, docs: DataFrame, idCol: String,
      textCol: String, minShared: Int = 2): (WinnowIndex, DataFrame) = {
    val nf = Winnow.fingerprints(docs, idCol, textCol, idx.k, idx.w)
      .withColumnRenamed(idCol, "id").localCheckpoint()
    val all = idx.fps.unionByName(nf).localCheckpoint()
    (idx.copy(fps = all), matchesNew(nf, all, minShared))
  }

  /** Remove documents by id; already-emitted matches are the caller's
    * to reconcile (the LSM contract shared by every incremental
    * index).
    */
  def delete(idx: WinnowIndex, ids: DataFrame, idCol: String)
      : WinnowIndex =
    idx.copy(fps = IndexStore.delete(idx.fps, "id", ids, idCol))

  /** Publish the fingerprint relation as `<name>_fps`; (k, w) geometry
    * is caller configuration.
    */
  def save(idx: WinnowIndex, catalog: ParquetCatalog, name: String,
      vacuumHistory: Boolean = true): Unit =
    IndexStore.publish(catalog, vacuumHistory, s"${name}_fps" -> idx.fps)

  /** Rehydrate a [[save]]d index. */
  def load(catalog: ParquetCatalog, name: String,
      k: Int = 3, w: Int = 4): WinnowIndex =
    WinnowIndex(catalog.table(s"${name}_fps"), k, w)
}
