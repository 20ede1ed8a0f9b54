package graft.pipeline

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.dedup.IncrementalLsh
import graft.graph.IncrementalGraph
import graft.multimodal.HammingIndex.{Audio, Image}
import graft.similarity.IncrementalSemantic
import graft.text.IncrementalWinnow
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The unified forget sweep: one call must (1) remove the ids from all
  * five index families, (2) leave NO trace in any on-disk version —
  * current or historical — of any family table, and (3) make the
  * stored state indistinguishable from never having indexed the ids:
  * post-purge ingest == rebuild-from-scratch without them.
  */
class PurgeSpec extends SparkSpec {
  import spark.implicits._
  private implicit val sparkSess: org.apache.spark.sql.SparkSession = spark

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      // %100 pairs duplicate their base doc (planted near-dups)
      val base = i % 100
      (i, s"the quick document number $base repeats words number $base " +
        s"and some shared boilerplate text body marker $base end")
    }.toDF("doc_id", "text")

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map { i =>
      val rnd = new scala.util.Random(500 + i % 100)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("doc_id", "embedding")

  private def afps(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (i % 100) * 0x1234567L + 5)).toDF("id", "afp")

  private def dhashes(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (i % 100) * 0x30507FFL + 11)).toDF("id", "dhash")

  // every on-disk parquet row of every version of every table
  private def allVersionRows(root: String, col0: String): Set[Long] = {
    val listing = Files.list(Path.of(root))
    val tables =
      try { import scala.jdk.CollectionConverters._
        listing.iterator().asScala.filter(Files.isDirectory(_)).toList }
      finally listing.close()
    tables.flatMap { t =>
      val vs = Files.list(t)
      val vdirs =
        try { import scala.jdk.CollectionConverters._
          vs.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("v_")).toList }
        finally vs.close()
      vdirs.flatMap { v =>
        val df = spark.read.parquet(v.toString)
        val key = df.columns.find(c => c == col0 || c == "doc" || c == "id")
        key.toSeq.flatMap(k =>
          df.select(col(k).cast("long")).na.drop().collect().map(_.getLong(0)))
      }
    }.toSet
  }

  test("forget purges all five families, vacuums history, and reports " +
      "per-family removal counts") {
    val root = Files.createTempDirectory("graft-purge").toString
    val cat = new ParquetCatalog(spark, root)
    val ids = (1L to 40L) ++ Seq(101L, 107L) // 101/107 dup 1/7
    val (lshIdx, _) = IncrementalLsh.build(docs(ids), "doc_id", "text")
    IncrementalLsh.save(lshIdx, cat, "t", vacuumHistory = false)
    // second publish so real HISTORY exists before the purge
    IncrementalLsh.save(lshIdx, cat, "t", vacuumHistory = false)
    val (semIdx, _) = IncrementalSemantic.build(vecs(ids), "doc_id",
      "embedding", threshold = 0.99, c = 4)
    IncrementalSemantic.save(semIdx, cat, "s", vacuumHistory = false)
    IncrementalSemantic.save(semIdx, cat, "s", vacuumHistory = false)
    val (audIdx, _) = Audio.build(afps(ids))
    Audio.save(audIdx, cat, "a", vacuumHistory = false)
    Audio.save(audIdx, cat, "a", vacuumHistory = false)
    val (winIdx, _) = IncrementalWinnow.build(docs(ids), "doc_id", "text")
    IncrementalWinnow.save(winIdx, cat, "w", vacuumHistory = false)
    IncrementalWinnow.save(winIdx, cat, "w", vacuumHistory = false)
    val (imgIdx, _) = Image.build(dhashes(ids))
    Image.save(imgIdx, cat, "i", vacuumHistory = false)
    Image.save(imgIdx, cat, "i", vacuumHistory = false)

    val purged = Seq(3L, 7L, 107L, 999L) // 999 never indexed: no-op
    val report = Purge.forget(cat, purged.toDF("doc_id"), "doc_id",
      lsh = Seq("t"), semantic = Seq("s"), audio = Seq("a"),
      winnow = Seq("w"), image = Seq("i"))
    assert(report == Purge.Report(3L, 3L, 3L, 3L, 3L))

    // no trace anywhere on disk — any version of any table
    val survivors = allVersionRows(root, "doc_id")
    assert(Set(3L, 7L, 107L).intersect(survivors).isEmpty,
      s"purged ids still on disk: ${Set(3L, 7L, 107L) & survivors}")
    assert(survivors.contains(1L) && survivors.contains(101L))
  }

  test("post-purge ingest equals rebuild-from-scratch without the " +
      "purged docs, in every family") {
    val root = Files.createTempDirectory("graft-purge2").toString
    val cat = new ParquetCatalog(spark, root)
    val initIds = (1L to 30L) ++ Seq(103L, 105L)
    val batchIds = (51L to 60L) ++ Seq(109L, 110L)
    val purged = Seq(3L, 5L, 9L, 103L)
    val keptIds = initIds.filterNot(purged.contains)

    def pairsOf(df: DataFrame): Set[(Long, Long)] =
      df.select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def batchTouching(p: Set[(Long, Long)]): Set[(Long, Long)] =
      p.filter { case (a, b) =>
        batchIds.contains(a) || batchIds.contains(b) }

    // LSH
    val (l0, _) = IncrementalLsh.build(docs(initIds), "doc_id", "text")
    IncrementalLsh.save(l0, cat, "t")
    Purge.forget(cat, purged.toDF("doc_id"), "doc_id", lsh = Seq("t"))
    val (_, lp) = IncrementalLsh.addBatch(IncrementalLsh.load(cat, "t"),
      docs(batchIds), "doc_id", "text")
    val (_, lAll) = IncrementalLsh.build(docs(keptIds ++ batchIds),
      "doc_id", "text")
    assert(pairsOf(lp) == batchTouching(pairsOf(lAll)))

    // semantic (centroids trained on the FULL initial set survive the
    // purge — the stored-centroid contract — so the rebuild reference
    // reuses them via addBatch from an empty member set)
    val (s0, _) = IncrementalSemantic.build(vecs(initIds), "doc_id",
      "embedding", threshold = 0.99, c = 4)
    IncrementalSemantic.save(s0, cat, "s", vacuumHistory = true)
    Purge.forget(cat, purged.toDF("doc_id"), "doc_id", semantic = Seq("s"))
    val (_, sp) = IncrementalSemantic.addBatch(
      IncrementalSemantic.load(cat, "s"), vecs(batchIds), "doc_id",
      "embedding", threshold = 0.99)
    val empty = IncrementalSemantic.delete(s0, initIds.toDF("doc_id"),
      "doc_id")
    val (s1, _) = IncrementalSemantic.addBatch(empty, vecs(keptIds),
      "doc_id", "embedding", threshold = 0.99)
    val (_, sAll) = IncrementalSemantic.addBatch(s1, vecs(batchIds),
      "doc_id", "embedding", threshold = 0.99)
    assert(pairsOf(sp) == pairsOf(sAll))

    // audio
    val (a0, _) = Audio.build(afps(initIds))
    Audio.save(a0, cat, "a")
    Purge.forget(cat, purged.toDF("doc_id"), "doc_id", audio = Seq("a"))
    val (_, ap) = Audio.addBatch(Audio.load(cat, "a"),
      afps(batchIds))
    val (a1, _) = Audio.build(afps(keptIds))
    val (_, aAll) = Audio.addBatch(a1, afps(batchIds))
    assert(pairsOf(ap) == pairsOf(aAll))

    // winnow (matches carry shared-mass/extent columns; the (a, b)
    // projection is the rebuild-equivalence key)
    val (w0, _) = IncrementalWinnow.build(docs(initIds), "doc_id", "text")
    IncrementalWinnow.save(w0, cat, "w")
    Purge.forget(cat, purged.toDF("doc_id"), "doc_id", winnow = Seq("w"))
    val (_, wp) = IncrementalWinnow.addBatch(
      IncrementalWinnow.load(cat, "w"), docs(batchIds), "doc_id", "text")
    val (_, wAll) = IncrementalWinnow.build(docs(keptIds ++ batchIds),
      "doc_id", "text")
    assert(pairsOf(wp) == batchTouching(pairsOf(wAll)))

    // image
    val (i0, _) = Image.build(dhashes(initIds))
    Image.save(i0, cat, "i")
    Purge.forget(cat, purged.toDF("doc_id"), "doc_id", image = Seq("i"))
    val (_, ipp) = Image.addBatch(
      Image.load(cat, "i"), dhashes(batchIds))
    val (i1, _) = Image.build(dhashes(keptIds))
    val (_, iAll) = Image.addBatch(i1, dhashes(batchIds))
    assert(pairsOf(ipp) == pairsOf(iAll))
  }

  test("forget removes a page's out-edges from every stored version of " +
      "a link-graph index") {
    val root = Files.createTempDirectory("graft-purge-graph")
    val cat = new ParquetCatalog(spark, root.toString)
    def page(id: Long, targets: Long*): (Long, String) =
      (id, targets.map(t => s"""<a href="http://d$t.example.com/p/$t">r</a>""")
        .mkString("<html><body>", " ", "</body></html>"))
    val pages = Seq(page(1L, 2L, 3L), page(2L, 3L), page(3L, 1L, 2L),
      page(4L, 3L), page(5L)).toDF("doc_id", "html")
    val idx = IncrementalGraph.build(pages, "doc_id", "html")
    // two publishes, so a historical version exists before the purge
    IncrementalGraph.save(idx, cat, "g", vacuumHistory = false)
    IncrementalGraph.save(idx, cat, "g", vacuumHistory = false)
    // page 5 has no out-edges and 999 was never crawled: neither counts
    val report = Purge.forget(cat, Seq(3L, 5L, 999L).toDF("doc_id"),
      "doc_id", graph = Seq("g"))
    assert(report == Purge.Report(0L, 0L, 0L, 0L, 0L, graphRemoved = 1L))
    val versions = {
      val ls = Files.list(root.resolve("g_edges"))
      try { import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.toString).filter(_.contains("/v_")).toList }
      finally ls.close()
    }
    assert(versions.nonEmpty)
    for (v <- versions) {
      val edges = spark.read.parquet(v).as[(Long, Long)].collect().toSet
      assert(!edges.exists(_._1 == 3L), s"$v keeps page 3's out-edges")
      // in-links to the purged page stay as dangling targets
      assert(Set((1L, 3L), (2L, 3L), (4L, 3L)).subsetOf(edges), v)
    }
    assert(IncrementalGraph.load(cat, "g").edges.as[(Long, Long)]
      .collect().toSet == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L)))
  }
}
