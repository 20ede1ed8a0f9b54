package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.{Dedup, IncrementalLsh, LshIndex}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming near-dup ingestion: a real Structured Streaming query
  * (MemoryStream source, foreachBatch sink) folds each micro-batch
  * into the incremental LSH index; the accumulated pair set must equal
  * the one-shot batch run over the same corpus — the batch/streaming
  * consistency contract, same as StreamingScdSpec's for the merge.
  */
/** Top-level so Spark can instantiate the encoder without an outer
  * scope (`as[Doc]` deserializes collected rows back to case objects).
  */
case class LshDoc(doc_id: Long, text: String)

class StreamingLshSpec extends SparkSpec {

  /** sf0.001 docs plus planted near-dup copies of every 7th. */
  private def plantedCorpus: DataFrame = {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private def oneShotPairs(corpus: DataFrame): Set[(Long, Long)] =
    Dedup.minhashNearDuplicates(corpus, "doc_id", "text",
        persistShingles = false)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed ingestion reproduces the one-shot near-dup pair set") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val corpus = plantedCorpus
    val docs = corpus.as[LshDoc].collect()

    val source = MemoryStream[LshDoc]
    @volatile var idx: Option[LshIndex] = None
    @volatile var pairs = Set.empty[(Long, Long)]
    val query = source.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.select(col("doc_id"), col("text"))
        val (next, newPairs) = idx match {
          case None    => IncrementalLsh.build(b, "doc_id", "text")
          case Some(i) => IncrementalLsh.addBatch(i, b, "doc_id", "text")
        }
        idx = Some(next)
        pairs ++= newPairs.select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      .start()
    try {
      val (b1, rest) = docs.partition(_.doc_id % 3 == 0)
      val (b2, b3) = rest.partition(_.doc_id % 3 == 1)
      source.addData(b1.toSeq); query.processAllAvailable()
      source.addData(b2.toSeq); query.processAllAvailable()
      source.addData(b3.toSeq); query.processAllAvailable()
    } finally query.stop()

    val oneShot = oneShotPairs(corpus)
    assert(pairs == oneShot)
    assert(pairs.nonEmpty, "planted duplicates must surface")
  }

  test("StreamingLsh.ingest drains a file source per-file == one-shot") {
    val corpus = plantedCorpus
    val stage = Files.createTempDirectory("graft-slsh-landing").toString
    val cp = Files.createTempDirectory("graft-slsh-cp").toString
    corpus.repartition(3, col("doc_id"))
      .write.mode("overwrite").parquet(stage)
    val nFiles = new java.io.File(stage).listFiles
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    val stream = StreamFold.files(spark, stage)
    var folds = 0
    val (idx, pairs) = StreamingLsh.ingest(stream, "doc_id", "text", cp,
      onBatch = _ => folds += 1)
    assert(folds == nFiles && nFiles > 1,
      s"expected one fold per staged file, got $folds of $nFiles")
    val got = pairs.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == oneShotPairs(corpus) && got.nonEmpty)
    // the returned index keeps ingesting: a replayed document must
    // pair with its already-indexed twin
    val one = corpus.filter(col("doc_id") === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val (_, more) = IncrementalLsh.addBatch(idx, one, "doc_id", "text")
    assert(more.filter(col("b") === 5000000L).count() >= 1)
  }

  test("StreamingLsh.ingest of an empty source: no pairs, usable index") {
    val stage = Files.createTempDirectory("graft-slsh-empty").toString
    val cp = Files.createTempDirectory("graft-slsh-empty-cp").toString
    val schema = plantedCorpus.schema
    val stream = spark.readStream.schema(schema).parquet(stage)
    val (idx, pairs) = StreamingLsh.ingest(stream, "doc_id", "text", cp)
    assert(pairs.count() == 0)
    val two = plantedCorpus.filter(col("doc_id") === 0)
      .unionByName(plantedCorpus.filter(col("doc_id") === 0)
        .select((col("doc_id") + 9000000L).as("doc_id"), col("text")))
    val (_, found) = IncrementalLsh.addBatch(idx, two, "doc_id", "text")
    assert(found.count() >= 1, "empty index must accept a first batch")
  }
}
