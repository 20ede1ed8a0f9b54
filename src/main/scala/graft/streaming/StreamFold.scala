package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The one streaming fold every ingest door runs on: drain
  * `stream` through `foreachBatch` under a bounded trigger and fold each
  * micro-batch into a state `S` with `step(previous, batch, batchId)`.
  *
  * `step` sees `None` on the first micro-batch, so a door takes its
  * `build` path there and its `addBatch` path after. The fold returns
  * `None` when no micro-batch arrived; the caller decides what an empty
  * stream means (an empty relation for the library doors, a loud error
  * for the declared queries). An exception in `step` fails the query,
  * and `awaitTermination` rethrows it to the caller: a fold never
  * returns a partial state.
  *
  * The state is folded on the stream's micro-batch thread and read on
  * the caller's thread after termination, hence the `@volatile` handoff.
  * A `foreachBatch` frame is only valid during its micro-batch, so any
  * relation kept in `S` must be materialized inside `step`
  * (`localCheckpoint`), as the doors do.
  *
  * Fold state is not persisted per batch, so a restart from an existing
  * stream checkpoint would resume the offsets but lose every earlier
  * batch's contribution. The fold therefore refuses a `checkpointDir`
  * that already committed a batch.
  */
object StreamFold {

  /** The `(a, b)` near-pair relation the media and embedding doors emit. */
  val PairsSchema: StructType = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType)))

  def apply[S](stream: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      step: (Option[S], DataFrame, Long) => S): Option[S] = {
    requireFresh(stream.sparkSession, checkpointDir)
    @volatile var acc: Option[S] = None
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        acc = Some(step(acc, batch, batchId))
      }
      .start()
      .awaitTermination()
    acc
  }

  /** The one index door: drain `stream` into an incremental index with
    * `build` on the first micro-batch and `addBatch` after, and return
    * the final index with the union of every batch's new pairs. Each
    * batch's new pairs are materialized inside the batch (the frame is
    * only valid there; the index relations are materialized by the
    * index itself), then `onBatch` runs with the grown index, e.g. to
    * publish it. Per-batch pair outputs are exactly-once in every index
    * family, so the union equals the one-shot run under any batching.
    *
    * When no micro-batch arrives, the pairs are an empty relation of
    * `pairsSchema` and the index is `build` over an empty relation of
    * the stream's own schema, so it accepts a later batch.
    */
  def index[I](stream: DataFrame, checkpointDir: String, trigger: Trigger,
      pairsSchema: StructType, onBatch: I => Unit)(
      build: DataFrame => (I, DataFrame),
      addBatch: (I, DataFrame) => (I, DataFrame)): (I, DataFrame) = {
    val spark = stream.sparkSession
    val folded = StreamFold[(I, Vector[DataFrame])](stream, checkpointDir,
        trigger) { (prev, batch, _) =>
      val (next, newPairs) =
        prev.fold(build(batch)) { case (i, _) => addBatch(i, batch) }
      val pairBatches = prev.fold(Vector.empty[DataFrame])(_._2) :+
        newPairs.localCheckpoint()
      onBatch(next)
      (next, pairBatches)
    }
    (folded.fold(build(unionOr(spark, Nil, stream.schema))._1)(_._1),
      unionOr(spark, folded.toSeq.flatMap(_._2), pairsSchema))
  }

  /** A file-source stream over the parquet files in `dir`, one file per
    * micro-batch, with the schema read from the files already there.
    */
  def files(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Merge additive partials: `part` alone on the first batch, else
    * `acc ∪ part` regrouped by `keys` with every `sums` column summed.
    * Materialized, so the fold's plan stays one batch deep.
    */
  def addPartials(acc: Option[DataFrame], part: DataFrame,
      keys: Seq[String], sums: Seq[String]): DataFrame = {
    val folds = sums.map(c => sum(col(c)).as(c))
    acc.fold(part)(_.unionByName(part)
        .groupBy(keys.map(col): _*).agg(folds.head, folds.tail: _*))
      .localCheckpoint()
  }

  /** Union of `parts`, or an empty relation of `schema` when there are
    * none. Lazy either way: no Spark action runs.
    */
  def unionOr(spark: SparkSession, parts: Seq[DataFrame],
      schema: StructType): DataFrame =
    parts.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  private def requireFresh(spark: SparkSession, checkpointDir: String): Unit = {
    val commits = new Path(checkpointDir, "commits")
    val fs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = fs.exists(commits) &&
      fs.listStatus(commits).exists(_.getPath.getName.forall(_.isDigit))
    if (committed) throw new IllegalStateException(
      s"$checkpointDir already holds committed stream batches; " +
        "StreamFold does not persist fold state, so a resume would " +
        "drop them. Use a fresh checkpoint directory.")
  }
}
