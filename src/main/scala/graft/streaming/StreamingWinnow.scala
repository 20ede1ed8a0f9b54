package graft.streaming

import graft.text.IncrementalWinnow
import graft.text.IncrementalWinnow.WinnowIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the WINNOWING provenance index
  * — the fourth streaming door ([[StreamingLsh]] text near-dup,
  * [[StreamingSemantic]] embeddings, [[StreamingAudio]] clips, and now
  * span provenance): documents land as files, each micro-batch is
  * tokenized + fingerprinted ONCE and folds into
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
      onBatch: WinnowIndex => Unit = _ => ()): (WinnowIndex, DataFrame) = {
    val spark = stream.sparkSession
    val folded = StreamFold[(WinnowIndex, Vector[DataFrame])](stream,
        checkpointDir, trigger) { (prev, batch, _) =>
      val (next, newMatches) = prev match {
        case None => IncrementalWinnow.build(batch, idCol, textCol,
          k, w, minShared)
        case Some((i, _)) => IncrementalWinnow.addBatch(i, batch, idCol,
          textCol, minShared)
      }
      val matchBatches = prev.toVector.flatMap(_._2) :+
        newMatches.localCheckpoint()
      onBatch(next)
      (next, matchBatches)
    }
    val matches = StreamFold.unionOr(spark, folded.toSeq.flatMap(_._2),
      MatchesSchema)
    lazy val emptyIdx = IncrementalWinnow.build(
      StreamFold.unionOr(spark, Nil,
        StructType(Seq(StructField(idCol, LongType),
          StructField(textCol, StringType)))),
      idCol, textCol, k, w, minShared)._1
    (folded.fold(emptyIdx)(_._1), matches)
  }
}
