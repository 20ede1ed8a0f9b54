package graft.graph

import graft.SparkSpec
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

class IncrementalGraphSpec extends SparkSpec {
  import spark.implicits._

  private def page(id: Long, targets: Long*): (Long, String) =
    (id, targets.map(t =>
      s"""<a href="http://d${t % 20}.example.com/p/$t">r</a>""")
      .mkString("<html><body>", " ", "</body></html>"))

  private val pages = Seq(
    page(1L, 2L, 3L), page(2L, 3L), page(3L, 1L, 1L),
    page(4L, 4L), page(5L)).toDF("doc_id", "html")

  test("any batching equals the one-shot edge set") {
    val oneShot = WebGraph.docEdges(
        WebGraph.links(pages, "doc_id", "html"))
      .as[(Long, Long)].collect().toSet
    for (m <- Seq(2, 3)) {
      var idx = IncrementalGraph.build(
        pages.filter(col("doc_id") % m === 0), "doc_id", "html")
      (1 until m).foreach { k =>
        idx = IncrementalGraph.addBatch(idx,
          pages.filter(col("doc_id") % m === k), "doc_id", "html")
      }
      assert(idx.edges.as[(Long, Long)].collect().toSet == oneShot,
        s"batching mod $m diverged")
    }
  }

  test("delete removes out-edges only; in-edges survive as dangling") {
    val idx = IncrementalGraph.build(pages, "doc_id", "html")
    val after = IncrementalGraph.delete(idx,
      Seq(3L).toDF("doc_id"), "doc_id")
    val got = after.edges.as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 4L)))
  }

  test("save/load roundtrip through the catalog") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-igraph").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val idx = IncrementalGraph.build(pages, "doc_id", "html")
    IncrementalGraph.save(idx, cat, "g")
    val loaded = IncrementalGraph.load(cat, "g")
    assert(loaded.edges.as[(Long, Long)].collect().toSet ==
      idx.edges.as[(Long, Long)].collect().toSet)
    Streams.rmTree(root)
  }

  test("rank over accumulated graph equals one-shot pageRank") {
    val nodes = (1L to 5L).toDF("node")
    var idx = IncrementalGraph.build(
      pages.filter(col("doc_id") <= 2), "doc_id", "html")
    idx = IncrementalGraph.addBatch(idx,
      pages.filter(col("doc_id") > 2), "doc_id", "html")
    val inc = IncrementalGraph.rank(idx, nodes, 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val one = WebGraph.pageRank(nodes,
        WebGraph.docEdges(WebGraph.links(pages, "doc_id", "html")), 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(inc == one)
  }

  test("rankWarm: seeding from the fixed point stops in one round; " +
      "after a fold it lands in the cold result's eps-ball cheaper") {
    val epsDiv = 100000L
    val nodes = (1L to 5L).toDF("node")
    val idx = IncrementalGraph.build(pages, "doc_id", "html")
    val cold = IncrementalGraph.rankConverged(idx, nodes, 60, epsDiv)
      .localCheckpoint()
    val coldRounds = cold.select(col("rounds")).head().getInt(0)
    assert(coldRounds > 1 && coldRounds < 60)
    // warm from the fixed point on the UNCHANGED graph: the first
    // round's movement is already under eps — one round, same ball
    val re = IncrementalGraph.rankWarm(idx, nodes, cold, 60, epsDiv)
    assert(re.select(col("rounds")).head().getInt(0) == 1)
    // fold an EDGE-LEVEL change in (page 4 gains an out-link — the
    // incremental-crawl shape: the delta is small relative to the
    // graph); warm start pays fewer rounds than a cold start and both
    // land within the contraction bound of each other. A fold that
    // GROWS the node set materially shifts every node's uniform share
    // — there the warm seed is no closer than uniform, and rankWarm
    // degrades to the cold cost, never below it.
    val idx2 = IncrementalGraph.addBatch(idx,
      Seq(page(4L, 4L, 1L)).toDF("doc_id", "html"),
      "doc_id", "html")
    val nodes2 = nodes
    val warm2 = IncrementalGraph.rankWarm(idx2, nodes2, cold, 60,
      epsDiv).localCheckpoint()
    val cold2 = IncrementalGraph.rankConverged(idx2, nodes2, 60,
      epsDiv).localCheckpoint()
    val (wr, cr) = (warm2.select(col("rounds")).head().getInt(0),
      cold2.select(col("rounds")).head().getInt(0))
    assert(wr <= cr, s"warm $wr rounds vs cold $cr")
    val gap = warm2.select(col("node"), col("rank").as("wr"))
      .join(cold2.select(col("node"), col("rank").as("cr")), Seq("node"))
      .agg(sum(abs(col("wr") - col("cr")))).head().getLong(0)
    assert(gap <= 7L * WebGraph.Scale / epsDiv,
      s"fixed-point gap $gap exceeds the contraction bound")
  }

  test("rankWarm is batching-invariant: any fold order, same warm " +
      "ranks bit-exactly") {
    val nodes = (1L to 5L).toDF("node")
    val prev = IncrementalGraph.rankConverged(
        IncrementalGraph.build(
          pages.filter(col("doc_id") <= 3), "doc_id", "html"),
        nodes, 60, 100000L)
      .localCheckpoint()
    def folded(m: Int): Seq[(Long, Long)] = {
      var idx = IncrementalGraph.build(
        pages.filter(col("doc_id") % m === 0), "doc_id", "html")
      (1 until m).foreach { k =>
        idx = IncrementalGraph.addBatch(idx,
          pages.filter(col("doc_id") % m === k), "doc_id", "html")
      }
      IncrementalGraph.rankWarm(idx, nodes, prev, 60, 100000L)
        .orderBy("node").select(col("node"), col("rank"))
        .as[(Long, Long)].collect().toSeq
    }
    assert(folded(2) == folded(3))
  }

  test("load, save, rank: the vacuumed version is not read") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-igraph-vac").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val nodes = (1L to 5L).toDF("node")
    IncrementalGraph.save(
      IncrementalGraph.build(pages, "doc_id", "html"), cat, "g")
    val loaded = IncrementalGraph.load(cat, "g")
    // writes v_2 and vacuums v_1, the version load read
    IncrementalGraph.save(loaded, cat, "g")
    val inc = IncrementalGraph.rank(loaded, nodes, 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val one = WebGraph.pageRank(nodes,
        WebGraph.docEdges(WebGraph.links(pages, "doc_id", "html")), 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(inc == one)
    Streams.rmTree(root)
  }
}
