package graft.streaming

import graft.text.Repetition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming door for the reference-LM COUNT STORE ([[Repetition
  * .fitBackoff]]): the reference corpus lands as files and each
  * micro-batch's trigram/bigram/unigram counts fold into the
  * accumulated store — counts are per-doc quantities, so the merged
  * store over ANY batching equals the one-shot fit, and scoring
  * against it equals the one-shot [[Repetition.backoffScore]] (q167's
  * oracle is q160's SQL verbatim). Each fold is localCheckpoint-
  * materialized (the iterative-plan loop invariant).
  */
object StreamingLm {

  /** Drain `stream` (columns `idCol`, `textCol`), folding each
    * micro-batch into the accumulated count store. Returns the merged
    * store (empty stream → empty store). Blocks until termination.
    */
  def ingest(stream: DataFrame, idCol: String, textCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): Repetition.LmCounts =
    StreamFold[Repetition.LmCounts](stream, checkpointDir, trigger) {
      (prev, batch, _) =>
        val c = Repetition.fitBackoffMaterialized(batch, idCol, textCol)
        prev.fold(c)(_.merge(c).checkpointed())
    }.getOrElse(Repetition.fitBackoff(
      StreamFold.unionOr(stream.sparkSession, Nil,
        StructType(Seq(stream.schema(idCol), stream.schema(textCol)))),
      idCol, textCol))
}
