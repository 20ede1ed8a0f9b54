package graft.streaming

import graft.similarity.{IncrementalSemantic, SemanticIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[StreamingLsh]]'s continuous-ingest shape applied to the EMBEDDING
  * index: a stream of (id, vector) rows drains through
  * [[StreamFold.index]], each micro-batch folding into [[IncrementalSemantic]] — only the
  * batch is assigned to the stored centroids, candidates come from
  * new-vs-(stored+new) bucket collisions, and per-batch pair outputs
  * are exactly-once, so the accumulated pair set equals a one-shot run
  * against the same centroids under ANY micro-batch partitioning.
  *
  * Unlike the text index, the semantic index has a TRAINED component
  * (the coarse centroids), so ingest starts from an explicit `init`
  * index built on a seed corpus ([[IncrementalSemantic.build]]) rather
  * than training on whichever file the stream happens to list first —
  * that keeps the result independent of file arrival order, which is
  * exactly the production shape (train on the existing corpus, stream
  * the growth) and what makes the q119 oracle (q111's one-shot replay)
  * a batching-independent contract.
  */
object StreamingSemantic {

  /** Drain `stream` (columns `idCol`, `vecCol`) into `init` and return
    * the grown index plus ALL near-dup pairs discovered across the run
    * (pairs with at least one streamed member; seed-corpus-internal
    * pairs were returned by the `build` that made `init`). Blocks until
    * the stream terminates — the default `AvailableNow` trigger
    * processes everything currently available, then stops. `onBatch`
    * runs after each fold with the grown index (e.g. to
    * [[IncrementalSemantic.save]] it to a catalog). Every batch, the
    * first included, folds into the index through `addBatch`, so an
    * empty stream returns `init`'s members re-materialized.
    */
  def ingest(stream: DataFrame, idCol: String, vecCol: String,
      checkpointDir: String, init: SemanticIndex, threshold: Double,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: SemanticIndex => Unit = _ => ()): (SemanticIndex, DataFrame) = {
    val fold = (i: SemanticIndex, d: DataFrame) => IncrementalSemantic
      .addBatch(i, d.select(col(idCol), col(vecCol)), idCol, vecCol,
        threshold)
    StreamFold.index(stream, checkpointDir, trigger, StreamFold.PairsSchema,
      onBatch)(fold(init, _), fold)
  }
}
