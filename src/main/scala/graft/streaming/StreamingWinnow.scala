package graft.streaming

import graft.text.IncrementalWinnow
import graft.text.IncrementalWinnow.WinnowIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the WINNOWING provenance index
  * — the fourth streaming door ([[StreamingLsh]] text near-dup,
  * [[StreamingSemantic]] embeddings, [[StreamingMedia]] clips and
  * images, and span provenance): documents land as files, each
  * micro-batch is tokenized + fingerprinted ONCE and folds into
  * [[IncrementalWinnow]]; per-batch match outputs are exactly-once
  * with full shared-mass and extents, so the accumulated set equals
  * the one-shot [[graft.text.Winnow.matches]] under any file batching
  * — the q150 oracle (q149's SQL verbatim) hash-checks that.
  */
object StreamingWinnow {

  val MatchesSchema: StructType = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("n_shared", LongType),
    StructField("a_from", LongType), StructField("a_to", LongType),
    StructField("b_from", LongType), StructField("b_to", LongType)))

  /** Drain a stream of `(idCol, textCol)` rows into an incremental
    * winnowing index; returns the final index and ALL matches
    * discovered across the run. Blocks until the stream terminates
    * (default AvailableNow). `onBatch` runs after each fold (e.g. to
    * publish the fingerprint relation).
    */
  def ingest(stream: DataFrame, idCol: String, textCol: String,
      checkpointDir: String, k: Int = 3, w: Int = 4, minShared: Int = 2,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: WinnowIndex => Unit = _ => ()): (WinnowIndex, DataFrame) =
    StreamFold.index(stream, checkpointDir, trigger, MatchesSchema,
        onBatch)(
      IncrementalWinnow.build(_, idCol, textCol, k, w, minShared),
      IncrementalWinnow.addBatch(_, _, idCol, textCol, minShared))
}
