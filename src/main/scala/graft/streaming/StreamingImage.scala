package graft.streaming

import graft.multimodal.{IncrementalPerceptual, Multimodal, Perceptual}
import graft.multimodal.IncrementalPerceptual.PerceptualIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the perceptual IMAGE index —
  * the fifth streaming door ([[StreamingLsh]] text, [[StreamingSemantic]]
  * embeddings, [[StreamingAudio]] clips, [[StreamingWinnow]] spans):
  * BMP payloads land as files, each micro-batch is decoded + dHashed
  * ONCE (the expensive codec scan happens per image at ingest, never
  * again) and folds into [[IncrementalPerceptual]]; per-batch pair
  * outputs are exactly-once, so the accumulated set equals the
  * one-shot banded run under any file batching — the q152 oracle
  * (q110's SQL verbatim) hash-checks that.
  *
  * `foreachBatch` is the right sink shape for the same reason as the
  * siblings: the index is one grown-per-batch RELATION, not per-key
  * state.
  */
object StreamingImage {

  /** Drain a stream of `(doc_id: long, payload: binary, n_bytes: int)`
    * rows into an incremental perceptual index; returns the final
    * index and ALL near-pairs discovered across the run. Blocks until
    * the stream terminates (default AvailableNow). `onBatch` runs
    * after each fold (e.g. to publish the 16-bytes-per-image hash
    * relation).
    */
  def ingest(stream: DataFrame, checkpointDir: String,
      maxHamming: Int = 6, bands: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: PerceptualIndex => Unit = _ => ())
      : (PerceptualIndex, DataFrame) = {
    implicit val spark: SparkSession = stream.sparkSession
    import spark.implicits._
    val folded = StreamFold[(PerceptualIndex, Vector[DataFrame])](stream,
        checkpointDir, trigger) { (prev, batch, _) =>
      val media = batch
        .select(col("doc_id"), col("payload"), col("n_bytes"))
        .as[Multimodal.BmpMedia]
      val hashes = Perceptual.dHashes(media)
      val (next, newPairs) = prev match {
        case None => IncrementalPerceptual.build(hashes, maxHamming, bands)
        case Some((i, _)) =>
          IncrementalPerceptual.addBatch(i, hashes, maxHamming)
      }
      val pairBatches = prev.toVector.flatMap(_._2) :+
        newPairs.localCheckpoint()
      onBatch(next)
      (next, pairBatches)
    }
    val pairs = StreamFold.unionOr(spark, folded.toSeq.flatMap(_._2),
      StreamFold.PairsSchema)
    lazy val emptyIdx = IncrementalPerceptual.build(
      StreamFold.unionOr(spark, Nil,
        StructType(Seq(StructField("id", LongType),
          StructField("dhash", LongType)))),
      maxHamming, bands)._1
    (folded.fold(emptyIdx)(_._1), pairs)
  }
}
