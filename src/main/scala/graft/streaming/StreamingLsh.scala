package graft.streaming

import graft.dedup.{IncrementalLsh, LshIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the incremental near-duplicate
  * index: a stream of documents drains through `foreachBatch`, each
  * micro-batch folding into [[IncrementalLsh]] — only the batch is
  * shingled/signed/banded, candidates come from new-vs-(stored+new)
  * bucket collisions, and the per-batch pair outputs are exactly-once
  * (the later member's batch emits a pair), so the union over any
  * micro-batch partitioning equals the one-shot batch run. That
  * equivalence is the q118 oracle (the same whole-corpus SQL replay as
  * q20/q97) and the StreamingLshSpec contract.
  *
  * `foreachBatch` is the right sink shape here (not a stateful
  * operator): the index is a pair of grown-per-batch RELATIONS
  * (buckets + shingles), not per-key state — `flatMapGroupsWithState`
  * would force the whole index through one key's state store. Each
  * batch's new pairs are localCheckpoint-materialized inside the batch
  * (a `foreachBatch` frame is only valid during its micro-batch; the
  * index relations are already materialized the same way by
  * [[IncrementalLsh]]).
  *
  * At scale this is the continuous-ingest shape: a file-source stream
  * over a landing directory (`maxFilesPerTrigger` bounds batch size),
  * checkpointed offsets for restartability, and per-batch cost
  * proportional to the batch — never a corpus re-hash. Combine with
  * [[IncrementalLsh.save]] in the batch hook to publish the index
  * after every fold.
  */
object StreamingLsh {

  val PairsSchema: StructType = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType),
    StructField("jaccard", DoubleType)))

  /** Drain `stream` (columns `idCol`, `textCol`) into an incremental
    * LSH index and return the final index plus ALL near-dup pairs
    * discovered across the run. Blocks until the stream terminates —
    * pass a bounded trigger (the default `AvailableNow` processes
    * everything currently available, in `maxFilesPerTrigger`-sized
    * batches for file sources, then stops). `onBatch` runs after each
    * fold with the grown index (e.g. to publish it to a catalog).
    */
  def ingest(stream: DataFrame, idCol: String, textCol: String,
      checkpointDir: String, threshold: Double = 0.5, bands: Int = 6,
      rowsPerBand: Int = 2, n: Int = 3,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: LshIndex => Unit = _ => ()): (LshIndex, DataFrame) = {
    val spark = stream.sparkSession
    val b = (df: DataFrame) => df.select(col(idCol), col(textCol))
    val folded = StreamFold[(LshIndex, Vector[DataFrame])](stream,
        checkpointDir, trigger) { (prev, batch, _) =>
      val (next, newPairs) = prev match {
        case None => IncrementalLsh.build(b(batch), idCol, textCol,
          threshold, bands, rowsPerBand, n)
        case Some((i, _)) => IncrementalLsh.addBatch(i, b(batch), idCol,
          textCol, threshold, bands, rowsPerBand, n)
      }
      val pairBatches = prev.toVector.flatMap(_._2) :+
        newPairs.localCheckpoint()
      onBatch(next)
      (next, pairBatches)
    }
    val pairs = StreamFold.unionOr(spark, folded.toSeq.flatMap(_._2),
      PairsSchema)
    // A drain with zero micro-batches still returns a USABLE (empty)
    // index: build over an empty relation with the stream's column
    // types, so addBatch on it later unions cleanly.
    lazy val emptyIdx = IncrementalLsh.build(
      StreamFold.unionOr(spark, Nil,
        StructType(Seq(stream.schema(idCol), stream.schema(textCol)))),
      idCol, textCol, threshold, bands, rowsPerBand, n)._1
    (folded.fold(emptyIdx)(_._1), pairs)
  }
}
