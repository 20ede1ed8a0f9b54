package graft.streaming

import graft.quality.Drift
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming door for the per-source DRIFT monitor: the CURRENT
  * snapshot lands as files and each micro-batch reduces to its
  * (source, bucket) partial histogram in the foreachBatch frame —
  * histogram counts are per-occurrence quantities (the [[Drift
  * .bucketCounts]] mergeable-partials contract), so the accumulated
  * sum over ANY file batching equals the one-shot histogram, and the
  * end-of-stream report against the frozen BASELINE histogram equals
  * the one-shot [[Drift.sourceDrift]] — q164's oracle is q163's SQL
  * verbatim under a different batching.
  *
  * Mid-stream alerting: pass `baseline` + `onBatch` and every
  * micro-batch fires the RUNNING report `Drift.fromCounts(baseline,
  * accumulated-so-far)` — because partials add, each running report
  * equals the one-shot report over the stream prefix, so an alert
  * threshold crossed mid-ingest is the same number the post-hoc audit
  * would compute (the monitor's actual deployment is firing DURING
  * ingest, not after it).
  *
  * At 100 TB this is the monitor's deployment shape: the baseline
  * histogram is `sources × dim` rows computed once per release; each
  * landing batch pays one tokenize scan; accumulated state is folded
  * (localCheckpoint per fold — the iterative-plan invariant) and never
  * exceeds `sources × dim` rows, so the per-batch report join is
  * dimension-sized regardless of corpus size.
  */
object StreamingDrift {

  /** Drain `stream` (columns `idCol`, `srcCol`, `textCol`), folding
    * each micro-batch into the accumulated (source, bucket, n)
    * histogram. If `baseline` is set, `onBatch(batchId, report)` fires
    * after each fold with the running [[Drift.fromCounts]] report
    * against it (report rows are dimension-sized — safe to collect or
    * sink inside the hook). Returns the merged histogram relation
    * (empty stream → empty relation). Blocks until termination.
    */
  def ingest(stream: DataFrame, idCol: String, srcCol: String,
      textCol: String, checkpointDir: String, dim: Int = 256,
      trigger: Trigger = Trigger.AvailableNow(),
      baseline: Option[DataFrame] = None,
      onBatch: (Long, DataFrame) => Unit = (_, _) => ()): DataFrame =
    StreamFold[DataFrame](stream, checkpointDir, trigger) {
      (prev, batch, batchId) =>
        val acc = StreamFold.addPartials(prev,
          Drift.bucketCounts(batch, idCol, srcCol, textCol, dim),
          Seq(srcCol, "bucket"), Seq("n"))
        baseline.foreach { base =>
          onBatch(batchId, Drift.fromCounts(base, acc, srcCol))
        }
        acc
    }.getOrElse(StreamFold.unionOr(stream.sparkSession, Nil,
      StructType(Seq(stream.schema(srcCol),
        StructField("bucket", LongType), StructField("n", LongType)))))
}
