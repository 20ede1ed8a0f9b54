package graft.pipeline

import graft.catalog.ParquetCatalog
import graft.dedup.IncrementalLsh
import graft.graph.IncrementalGraph
import graft.multimodal.HammingIndex
import graft.similarity.IncrementalSemantic
import graft.text.IncrementalWinnow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unified right-to-be-forgotten sweep across every stored incremental
  * index family (text LSH, semantic embedding, audio fingerprint,
  * winnowing span provenance, perceptual image dHash, link graph):
  * ONE call removes an id set from every named index a catalog holds
  * and republishes each relation with its history VACUUMED — after the
  * sweep no current or historical table version retains any purged
  * payload (the per-family `delete`s alone leave the old versions on
  * disk, which is exactly what a takedown must not do).
  *
  * The six families run through one loop over the shared keyed
  * delete and publish ([[graft.catalog.IndexStore]]); the id set is
  * materialized once for all of them.
  *
  * Contract per family (proved by PurgeSpec): post-purge ingest equals
  * rebuilding the index from scratch without the purged documents —
  * index state is per-doc (shingle sets, bucket rows, member vectors,
  * clip hashes, out-edges), so removing a doc's rows is
  * indistinguishable from never having indexed it. Already-emitted
  * pairs are history (the LSM contract of the per-family deletes);
  * purging cannot retract past outputs, only stop the ids from
  * matching anything in the future.
  *
  * At 100 TB: each removal is one anti-join per stored relation keyed
  * on the id (the delete set broadcasts); the republish rewrites each
  * relation once — the same cost as the ingest checkpoint the operator
  * families already pay per batch.
  */
object Purge {

  /** Distinct ids actually removed per family (requested ids that were
    * never indexed are no-ops and not counted). For the link graph the
    * count is of purged pages that had out-edges.
    */
  final case class Report(lshRemoved: Long, semanticRemoved: Long,
      audioRemoved: Long, winnowRemoved: Long = 0L, imageRemoved: Long = 0L,
      graphRemoved: Long = 0L)

  /** Remove `ids` from every listed index stored in `catalog` and
    * vacuum each table's version history. Names are the per-family
    * save/load names (`IncrementalLsh.save` etc.).
    */
  def forget(catalog: ParquetCatalog, ids: DataFrame, idCol: String,
      lsh: Seq[String] = Nil, semantic: Seq[String] = Nil,
      audio: Seq[String] = Nil, winnow: Seq[String] = Nil,
      image: Seq[String] = Nil, graph: Seq[String] = Nil): Report = {
    implicit val s: SparkSession = ids.sparkSession
    val d = ids.select(col(idCol)).distinct().localCheckpoint()
    // one stored index of a family, by name: its ids before and after
    // the delete, and the purged index's republish
    type Sweep = String => (DataFrame, DataFrame, () => Unit)
    def family[I](load: String => I)(delete: I => I, ids: I => DataFrame,
        save: (I, String) => Unit): Sweep = { name =>
      val idx = load(name)
      val next = delete(idx)
      (ids(idx), ids(next), () => save(next, name))
    }
    def media(m: HammingIndex.Medium): Sweep =
      family(m.load(catalog, _))(m.delete(_, d, idCol),
        _.hashes.select("id"), m.save(_, catalog, _))
    val families: Seq[(Seq[String], Sweep)] = Seq(
      lsh -> family(IncrementalLsh.load(catalog, _))(
        IncrementalLsh.delete(_, d, idCol), _.sets.select("doc"),
        IncrementalLsh.save(_, catalog, _)),
      semantic -> family(IncrementalSemantic.load(catalog, _))(
        IncrementalSemantic.delete(_, d, idCol), _.members.select("id"),
        IncrementalSemantic.save(_, catalog, _)),
      audio -> media(HammingIndex.Audio),
      winnow -> family(IncrementalWinnow.load(catalog, _))(
        IncrementalWinnow.delete(_, d, idCol), _.fps.select("id"),
        IncrementalWinnow.save(_, catalog, _)),
      image -> media(HammingIndex.Image),
      // a page leaves the graph with its out-edges, keyed by `src`
      graph -> family(IncrementalGraph.load(catalog, _))(
        IncrementalGraph.delete(_, d, idCol), _.edges.select("src"),
        IncrementalGraph.save(_, catalog, _)))
    // counts run BEFORE each save: the loaded relations read the
    // pre-purge version (still on disk at that point) and the purged
    // relations are localCheckpoint'd, so the save + vacuum that
    // follows invalidates neither
    val Seq(nL, nS, nA, nW, nI, nG) = families.map { case (names, sweep) =>
      names.map { name =>
        val (before, after, save) = sweep(name)
        val removed = before.distinct().count() - after.distinct().count()
        save()
        removed
      }.sum
    }
    Report(nL, nS, nA, nW, nI, nG)
  }
}
