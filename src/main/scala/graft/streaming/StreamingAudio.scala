package graft.streaming

import graft.multimodal.{AudioFp, IncrementalAudio}
import graft.multimodal.IncrementalAudio.AudioIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the perceptual AUDIO index —
  * the third of the ingest trilogy ([[StreamingLsh]] for text,
  * [[StreamingSemantic]] for embeddings): WAV payloads land as files,
  * each micro-batch is decoded + fingerprinted ONCE (the expensive
  * codec scan happens per clip at ingest, never again) and folds into
  * [[IncrementalAudio]]; per-batch pair outputs are exactly-once, so
  * the accumulated set equals the one-shot banded run under any file
  * batching — the q132 oracle (q129's SQL verbatim) hash-checks that.
  *
  * `foreachBatch` is the right sink shape for the same reason as the
  * siblings: the index is one grown-per-batch RELATION, not per-key
  * state.
  */
object StreamingAudio {

  /** Drain a stream of `(doc_id: long, payload: binary, n_bytes: int)`
    * rows into an incremental audio index; returns the final index and
    * ALL near-pairs discovered across the run. Blocks until the stream
    * terminates (default AvailableNow). `onBatch` runs after each fold
    * (e.g. to publish the 16-bytes-per-clip hash relation).
    */
  def ingest(stream: DataFrame, checkpointDir: String,
      maxHamming: Int = 3, bands: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: AudioIndex => Unit = _ => ()): (AudioIndex, DataFrame) = {
    implicit val spark: SparkSession = stream.sparkSession
    import spark.implicits._
    val folded = StreamFold[(AudioIndex, Vector[DataFrame])](stream,
        checkpointDir, trigger) { (prev, batch, _) =>
      val media = batch
        .select(col("doc_id"), col("payload"), col("n_bytes"))
        .as[AudioFp.AudioMedia]
      val fps = AudioFp.fingerprints(media)
      val (next, newPairs) = prev match {
        case None => IncrementalAudio.build(fps, maxHamming, bands)
        case Some((i, _)) => IncrementalAudio.addBatch(i, fps, maxHamming)
      }
      val pairBatches = prev.toVector.flatMap(_._2) :+
        newPairs.localCheckpoint()
      onBatch(next)
      (next, pairBatches)
    }
    val pairs = StreamFold.unionOr(spark, folded.toSeq.flatMap(_._2),
      StreamFold.PairsSchema)
    lazy val emptyIdx = IncrementalAudio.build(
      StreamFold.unionOr(spark, Nil,
        StructType(Seq(StructField("id", LongType),
          StructField("afp", LongType)))),
      maxHamming, bands)._1
    (folded.fold(emptyIdx)(_._1), pairs)
  }
}
