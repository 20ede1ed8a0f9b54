package graft.pipeline

import graft.SparkSpec
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** Release-over-release diff: op classification on synthetic manifests,
  * catalog-version composition, and the per-source roll-up.
  */
class ReleaseDiffSpec extends SparkSpec {

  import spark.implicits._

  private def manifest(rows: (Long, String, Long)*) =
    rows.toDF("doc_id", "split", "n_tok")

  test("ops: added/removed/split_moved/changed; unchanged rows absent") {
    val a = manifest((1L, "train", 10L), (2L, "test", 20L),
      (3L, "train", 30L), (4L, "val", 40L))
    val b = manifest((2L, "train", 20L), (3L, "train", 31L),
      (4L, "val", 40L), (5L, "train", 50L))
    val d = CorpusPipeline.releaseDiff(a, b, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "removed", 2L -> "split_moved", 3L -> "changed",
      5L -> "added"))
  }

  test("catalog composition + summary roll-up") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-reldiff").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val a = manifest((1L, "train", 10L), (2L, "test", 20L))
    val b = manifest((2L, "train", 20L), (3L, "train", 7L))
    cat.create("rel", a.schema)
    cat.overwrite("rel", a)
    val vA = cat.currentVersion("rel").get
    cat.overwrite("rel", b)
    val vB = cat.currentVersion("rel").get
    val diff = CorpusPipeline.releaseDiffAt(cat, "rel", vA, vB, "doc_id")
    val srcOf = Seq((1L, "s0"), (2L, "s0"), (3L, "s1"))
      .toDF("doc_id", "source")
    val sum = CorpusPipeline
      .releaseDiffSummary(diff, srcOf, "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // s0: doc 1 removed (-10 tok), doc 2 split moved (0 tok delta)
    // s1: doc 3 added (+7 tok)
    assert(sum == Map("s0" -> (0L, 1L, 1L, -10L), "s1" -> (1L, 0L, 0L, 7L)))
    Streams.rmTree(root)
  }
}
