package graft.similarity

import graft.SparkSpec
import graft.functions.VectorBinary
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** Quantized-vector artifact: int8 codec round trip, loud rejection of
  * out-of-range components, and the export → catalog publish → read-back
  * chain (q189's machinery on a handcrafted corpus).
  */
class VectorStoreSpec extends SparkSpec {

  import spark.implicits._

  test("i8 pack/unpack round trip; weighted sum pins order") {
    val df = Seq((1L, Seq(1, -1, 127, -128, 0)),
        (2L, Seq(3, 2, 1))).toDF("id", "v")
      .withColumn("buf", VectorBinary.packI8Col(col("v")))
      .withColumn("back", VectorBinary.unpackI8Col(col("buf")))
      .withColumn("ws", VectorBinary.weightedSumI8Col(col("buf")))
    val out = df.collect().map(r => r.getLong(0) ->
      ((r.getSeq[Int](1), r.getSeq[Int](3), r.getLong(4)))).toMap
    assert(out(1L)._1 == out(1L)._2)
    assert(out(1L)._3 == 1L * 1 + 2 * -1 + 3 * 127 + 4 * -128)
    // a transposition must change the checksum: (3,2,1) vs (1,2,3)
    assert(out(2L)._3 == 3 + 4 + 3)
    assert(out(2L)._3 != 1 + 4 + 9)
  }

  test("out-of-int8-range component packs to NULL, not a wrapped byte") {
    val out = Seq((1L, Seq(1, 200))).toDF("id", "v")
      .select(VectorBinary.packI8Col(col("v")).as("buf"))
      .collect().head
    assert(out.isNullAt(0))
  }

  test("export -> publish -> read back; zero vectors excluded") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vecstore").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val emb = Seq(
      (1L, Seq(1.0, -2.0, 4.0)),   // quantizes to (32, -64, 127)
      (2L, Seq(0.0, 0.0, 0.0)),    // zero vector: excluded
      (3L, Seq(-1.0, 1.0, 0.5))    // (-127, 127, 64)
    ).toDF("vec_id", "embedding")
    VectorStore.exportVectors(emb, "vec_id", "embedding", cat, "vecs")
    val back = VectorStore.vectorsDecoded(
        VectorStore.readVectors(cat, "vecs"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Int](3)))).toMap
    assert(back.keySet == Set(1L, 3L))
    assert(back(1L) == ((3L, Seq(32, -64, 127))))
    assert(back(3L) == ((3L, Seq(-127, 127, 64))))
    // re-export is a new catalog version; the old one stays readable
    VectorStore.exportVectors(emb.filter(col("vec_id") === 1L),
      "vec_id", "embedding", cat, "vecs")
    assert(VectorStore.readVectors(cat, "vecs").count() == 1L)
    val v0 = cat.currentVersion("vecs").get
    assert(cat.tableAsOfVersion("vecs", v0 - 1).count() == 2L)
    Streams.rmTree(root)
  }

  test("appendVectors: appended == one-shot under any batching; " +
      "missing table degrades to fresh export") {
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "embeddings").select(col("vec_id"), col("embedding"))
    def collectArt(cat: graft.catalog.ParquetCatalog) =
      VectorStore.readVectors(cat, "vecs")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1).toSeq
    val rootA = java.nio.file.Files
      .createTempDirectory("graft-vecapp-a").toString
    val catA = new graft.catalog.ParquetCatalog(spark, rootA)
    VectorStore.exportVectors(emb, "vec_id", "embedding", catA, "vecs")
    // batching B: three %3 slices, appended in a DIFFERENT order
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-vecapp-b").toString
    val catB = new graft.catalog.ParquetCatalog(spark, rootB)
    Seq(2, 0, 1).foreach { k =>
      // first call hits the missing table: fresh-export degrade
      VectorStore.appendVectors(emb.filter(col("vec_id") % 3 === k),
        "vec_id", "embedding", catB, "vecs")
    }
    assert(collectArt(catA).nonEmpty)
    assert(collectArt(catA) == collectArt(catB),
      "appended artifact must be bit-equal to the one-shot export")
    Streams.rmTree(rootA)
    Streams.rmTree(rootB)
  }

  test("servedTopK from the artifact == quantizedTopK from the floats") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-vecserve").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "embeddings").select(col("vec_id"), col("embedding"))
    VectorStore.exportVectors(emb, "vec_id", "embedding", cat, "vecs")
    val dec = VectorStore.vectorsDecoded(
        VectorStore.readVectors(cat, "vecs"))
      .select(col("vec_id"), col("qvec"))
    val served = VectorStore.servedTopK(dec,
        dec.filter(col("vec_id") < 10), "vec_id", "qvec", k = 5)
      .orderBy(col("q_id"), col("rank")).collect().toSeq
    val direct = Similarity.quantizedTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rank")).collect().toSeq
    assert(served.nonEmpty && served == direct)
    Streams.rmTree(root)
  }
}
