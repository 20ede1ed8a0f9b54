package graft.text

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.queries.fixtures.Streams
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental winnowing provenance index: batched union must equal
  * the one-shot Winnow.matches (with full shared-mass and extents),
  * emission is exactly-once, deletes stop matching, and the index
  * round-trips through the catalog.
  */
class IncrementalWinnowSpec extends SparkSpec {

  /** docs + span plants: %5 docs get a copy whose text is the original
    * plus a fresh tail (long shared prefix — guaranteed matches).
    */
  private def corpus: DataFrame = {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"),
          lit(" entirely fresh continuation words here")).as("text")))
  }

  private type M = (Long, Long, Long, Long, Long, Long, Long)

  private def rows(df: DataFrame): Set[M] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  private def oneShot: Set[M] = rows(Winnow.matches(
    Winnow.fingerprints(corpus, "doc_id", "text", k = 3, w = 4),
    "doc_id", minShared = 2))

  test("batched union == one-shot matches, emission exactly-once") {
    def batch(b: Int, of: Int) = corpus.filter(col("doc_id") % of === b)
    val (i0, p0) = IncrementalWinnow.build(batch(0, 3), "doc_id", "text")
    val (i1, p1) = IncrementalWinnow.addBatch(i0, batch(1, 3), "doc_id",
      "text")
    val (i2, p2) = IncrementalWinnow.addBatch(i1, batch(2, 3), "doc_id",
      "text")
    val sets = Seq(rows(p0), rows(p1), rows(p2))
    assert(sets.flatten.toSet == oneShot && oneShot.nonEmpty)
    // exactly-once: per-batch outputs are pairwise disjoint
    assert(sets(0).intersect(sets(1)).isEmpty &&
      (sets(0) ++ sets(1)).intersect(sets(2)).isEmpty)
    // a different batching gives the same union
    val (j0, q0) = IncrementalWinnow.build(batch(0, 2), "doc_id", "text")
    val (_, q1) = IncrementalWinnow.addBatch(j0, batch(1, 2), "doc_id",
      "text")
    assert(rows(q0) ++ rows(q1) == oneShot)
    assert(i2.fps.count() ==
      Winnow.fingerprints(corpus, "doc_id", "text", 3, 4).count())
  }

  test("deleted ids stop matching; catalog round-trip preserves state") {
    val (i0, _) = IncrementalWinnow.build(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val victims = corpus.filter(col("doc_id") % 2 === 0 &&
      col("doc_id") % 5 === 0).select(col("doc_id"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    val iDel = IncrementalWinnow.delete(i0, victims, "doc_id")
    assert(iDel.fps.select(col("id")).distinct().count() ==
      i0.fps.select(col("id")).distinct().count() - nVictims)
    val deleted = victims.collect().map(_.getLong(0)).toSet
    val (_, pAfter) = IncrementalWinnow.addBatch(iDel,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val touched = pAfter.select(col("a"), col("b")).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(touched.intersect(deleted).isEmpty)

    // save/load: the loaded index ingests identically to the live one
    val root = Files.createTempDirectory("graft-iw").toString
    val cat = new ParquetCatalog(spark, root)
    IncrementalWinnow.save(iDel, cat, "w")
    val loaded = IncrementalWinnow.load(cat, "w")
    val (_, pLive) = IncrementalWinnow.addBatch(iDel,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val (_, pLoaded) = IncrementalWinnow.addBatch(loaded,
      corpus.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    assert(rows(pLoaded) == rows(pLive))
    Streams.rmTree(root)
  }
}
