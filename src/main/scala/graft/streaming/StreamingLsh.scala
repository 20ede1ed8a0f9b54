package graft.streaming

import graft.dedup.{IncrementalLsh, LshIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming front door for the incremental near-duplicate
  * index: a stream of documents drains through [[StreamFold.index]],
  * each micro-batch folding into [[IncrementalLsh]] — only the batch is
  * shingled and banded, candidates come from new-vs-(stored+new)
  * bucket collisions, and the per-batch pair outputs are exactly-once
  * (the later member's batch emits a pair), so the union over any
  * micro-batch partitioning equals the one-shot batch run. That
  * equivalence is the q118 oracle (the same whole-corpus SQL replay as
  * q20/q97) and the StreamingLshSpec contract.
  *
  * `foreachBatch` is the right sink shape here (not a stateful
  * operator): the index is a grown-per-batch RELATION (one shingle
  * set plus its band keys per doc), not per-key state —
  * `flatMapGroupsWithState` would force the whole index through one
  * key's state store.
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
    val b = (df: DataFrame) => df.select(col(idCol), col(textCol))
    StreamFold.index(stream, checkpointDir, trigger, PairsSchema, onBatch)(
      d => IncrementalLsh.build(b(d), idCol, textCol, threshold, bands,
        rowsPerBand, n),
      (i, d) => IncrementalLsh.addBatch(i, b(d), idCol, textCol, threshold,
        bands, rowsPerBand, n))
  }
}
