package graft.streaming

import graft.multimodal.HammingIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming front door for the perceptual AUDIO and IMAGE
  * indexes: WAV or BMP payloads land as files, each micro-batch is
  * decoded + hashed ONCE by its [[HammingIndex.Medium]] (the expensive
  * codec scan happens per item at ingest, never again) and folds into
  * the [[HammingIndex]] through [[StreamFold.index]]. Per-batch pair
  * outputs are exactly-once, so the accumulated set equals the
  * one-shot banded run under any file batching — the q132 (audio,
  * q129's SQL verbatim) and q152 (images, q110's SQL verbatim) oracles
  * hash-check that.
  */
object StreamingMedia {

  /** Drain a stream of `(doc_id: long, payload: binary, n_bytes: int)`
    * rows of `medium` into an incremental index; returns the final
    * index and ALL near-pairs discovered across the run. Blocks until
    * the stream terminates (default AvailableNow). `onBatch` runs after
    * each fold (e.g. to publish the 16-bytes-per-item hash relation).
    */
  def ingest(medium: HammingIndex.Medium)(stream: DataFrame,
      checkpointDir: String, maxHamming: Int = medium.maxHamming,
      bands: Int = 4, trigger: Trigger = Trigger.AvailableNow(),
      onBatch: HammingIndex => Unit = _ => ()): (HammingIndex, DataFrame) =
    StreamFold.index(stream, checkpointDir, trigger, StreamFold.PairsSchema,
        onBatch)(
      b => medium.build(medium.hashes(b), maxHamming, bands),
      (i, b) => medium.addBatch(i, medium.hashes(b), maxHamming))
}
