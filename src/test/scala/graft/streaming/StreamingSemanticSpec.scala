package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.similarity.IncrementalSemantic
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level so Spark can build the product encoder without an outer
  * scope (MemoryStream batches deserialize back to case objects).
  */
case class EmbRow(vec_id: Long, embedding: Array[Float])

/** Streaming embedding-index ingest: a Structured Streaming query
  * folds micro-batches into [[graft.similarity.IncrementalSemantic]];
  * the accumulated pair set must equal a one-shot addBatch against the
  * same seed-trained index — the batch/streaming consistency contract,
  * mirroring StreamingLshSpec's for the text index.
  */
class StreamingSemanticSpec extends SparkSpec {

  private def emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** q95's planted corpus: base + exact copies (%7) + 2x copies (%11). */
  private def corpus: DataFrame = {
    val repA = emb.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val repB = emb.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    emb.unionByName(repA).unionByName(repB)
  }

  private val Th = 0.99

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Seed index trained on the %3==0 slice, plus the one-shot pair set
    * of draining everything else in a single batch.
    */
  private def seedAndOneShot = {
    val (i0, p0) = IncrementalSemantic.build(
      corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", Th,
      c = 4, iters = 1)
    val (_, rest) = IncrementalSemantic.addBatch(i0,
      corpus.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding", Th)
    (i0, pairSet(p0) ++ pairSet(rest))
  }

  test("file-source ingest, one file per micro-batch, == one-shot") {
    val (i0, oneShot) = seedAndOneShot
    val stage = Files.createTempDirectory("graft-ssem-landing").toString
    val cp = Files.createTempDirectory("graft-ssem-cp").toString
    corpus.filter(col("vec_id") % 3 =!= 0)
      .repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(stage)
    val nFiles = new java.io.File(stage).listFiles
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    val stream = StreamFold.files(spark, stage)
    var folds = 0
    val (idx, streamed) = StreamingSemantic.ingest(stream, "vec_id",
      "embedding", cp, i0, Th, onBatch = _ => folds += 1)
    assert(folds == nFiles && nFiles > 1,
      s"expected one fold per staged file, got $folds of $nFiles")
    val seedPairs = pairSet(IncrementalSemantic.build(
      corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", Th,
      c = 4, iters = 1)._2)
    assert(seedPairs ++ pairSet(streamed) == oneShot)
    assert(pairSet(streamed).nonEmpty, "planted dups cross the stream")
    // the returned index keeps ingesting: a replayed embedding must
    // pair with its already-indexed twin
    val one = corpus.filter(col("vec_id") === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val (_, more) = IncrementalSemantic.addBatch(idx, one, "vec_id",
      "embedding", Th)
    assert(more.filter(col("b") === 5000000L).count() >= 1)
  }

  test("MemoryStream batching (3 uneven batches) == one-shot") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val (i0, oneShot) = seedAndOneShot
    val rows = corpus.filter(col("vec_id") % 3 =!= 0)
      .as[EmbRow].collect()
    val source = MemoryStream[EmbRow]
    val cp = Files.createTempDirectory("graft-ssem-mem-cp").toString
    // start the drain AFTER queueing uneven batches; AvailableNow
    // processes exactly what is queued, then stops
    val (b1, rest) = rows.partition(_.vec_id % 5 == 0)
    val (b2, b3) = rest.partition(_.vec_id % 2 == 0)
    source.addData(b1.toSeq)
    source.addData(b2.toSeq)
    source.addData(b3.toSeq)
    val (_, streamed) = StreamingSemantic.ingest(source.toDF(), "vec_id",
      "embedding", cp, i0, Th)
    val seedPairs = pairSet(IncrementalSemantic.build(
      corpus.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", Th,
      c = 4, iters = 1)._2)
    assert(seedPairs ++ pairSet(streamed) == oneShot)
  }

  test("empty source: no pairs, index unchanged and usable") {
    val (i0, _) = seedAndOneShot
    val stage = Files.createTempDirectory("graft-ssem-empty").toString
    val cp = Files.createTempDirectory("graft-ssem-empty-cp").toString
    val stream = spark.readStream.schema(corpus.schema).parquet(stage)
    val (idx, pairs) = StreamingSemantic.ingest(stream, "vec_id",
      "embedding", cp, i0, Th)
    assert(pairs.count() == 0)
    assert(idx.members.count() == i0.members.count())
    val one = corpus.filter(col("vec_id") === 0)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    val (_, found) = IncrementalSemantic.addBatch(idx, one, "vec_id",
      "embedding", Th)
    assert(found.filter(col("b") === 9000000L).count() >= 1)
  }
}
