package graft.similarity

import graft.catalog.{IndexStore, ParquetCatalog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A materialized semantic-dedup index: the trained coarse centroids
  * plus one (id, bucket, e, nrm) row per indexed embedding. Both
  * persist as catalog tables ([[IncrementalSemantic.save]]) — the
  * centroid matrix is c×dims doubles (driver-small by design), the
  * member relation is the bucketed corpus.
  */
final case class SemanticIndex(centroids: Array[Array[Double]],
    members: DataFrame)

/** [[graft.dedup.IncrementalLsh]]'s ingest pattern applied to embedding
  * dedup — [[Similarity.semanticDedup]] answers "which embedding pairs
  * in this corpus are near-dups" in one pass, retraining centroids from
  * scratch per run; here the corpus GROWS and each batch must be
  * checked against everything already indexed without re-embedding,
  * re-training, or re-pairing the existing corpus:
  *
  *   - centroids are trained ONCE, at [[build]], with the portable
  *     Lloyd loop (exact-integer means, md5-seeded init — the
  *     q42/q95-verified training); every later batch assigns to the
  *     STORED centroids (cost ∝ batch × c·dims);
  *   - per batch, candidate pairs join the new members against the
  *     stored-plus-new members of the SAME bucket — new×new and
  *     new×old, never old×old (emitted by earlier batches);
  *   - verification is the exact cosine on the original embeddings,
  *     same as the one-shot operator.
  *
  * Batching is exhaustive AND exactly-once: every pair of the full
  * corpus has a unique emitting batch (the later member's), so the
  * union of per-batch pair outputs equals the one-shot pair relation
  * computed against the same stored centroids — that equivalence IS
  * the q111 oracle (centroids trained on batch 0 replayed as DuckDB
  * CTEs, assignment + pairing replayed over the full corpus).
  *
  * Index relations are localCheckpoint-materialized (an index is
  * state, not a recompute recipe), and [[save]] publishes both
  * relations through the catalog's atomic versioned overwrite with
  * history vacuumed — the ingest loop can checkpoint after every batch
  * without version directories growing with batch count.
  */
object IncrementalSemantic {

  import Similarity.{asDouble, dot, norm2, nearestCentroid,
    withQuantizedDouble, trainPortable}

  /** Train on the initial corpus and index it; returns the index and
    * the near-dup pairs within the corpus (a < b, exact cosine >=
    * `threshold`, within shared stored-centroid buckets).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, c: Int = 16, iters: Int = 2)
      : (SemanticIndex, DataFrame) = {
    val ds = withQuantizedDouble(corpus, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainPortable(ds, idCol, c, iters)
    val m = members(ds, idCol, vecCol, cents).localCheckpoint()
    ds.unpersist(blocking = false)
    (SemanticIndex(cents, m), pairs(m, m, threshold))
  }

  /** Fold one batch into the index; returns the grown index and the
    * NEW pairs — those with at least one member in the batch. Pairs
    * between two already-indexed embeddings are never re-emitted.
    */
  def addBatch(idx: SemanticIndex, batch: DataFrame, idCol: String,
      vecCol: String, threshold: Double): (SemanticIndex, DataFrame) = {
    val nm = members(withQuantizedDouble(batch, idCol, vecCol), idCol,
      vecCol, idx.centroids).localCheckpoint()
    val all = idx.members.unionByName(nm).localCheckpoint()
    (SemanticIndex(idx.centroids, all), pairs(nm, all, threshold))
  }

  /** Remove embeddings from the index (one keyed anti-join,
    * [[graft.catalog.IndexStore.delete]]). Removals do not retract past
    * outputs — the LSM contract, same as
    * [[graft.dedup.IncrementalLsh.delete]].
    */
  def delete(idx: SemanticIndex, ids: DataFrame, idCol: String)
      : SemanticIndex =
    SemanticIndex(idx.centroids,
      IndexStore.delete(idx.members, "id", ids, idCol))

  /** Re-train the centroids from the CURRENT member set (growing `c`
    * with the corpus — c ∝ N is the design's scale path) and re-bucket
    * every member under the new centroids. This is the remedy for
    * seed-frozen centroid drift: `SEMANTIC_DRIFT_r9.json` records
    * that frozen seed centroids barely lose planted-pair
    * recall but their seed-sized buckets hold N× the population, so
    * per-batch ingest cost grows linearly with the index where a
    * retrained c ∝ N index keeps bucket populations — and per-batch
    * cost — flat.
    *
    * Equivalent to [[build]] over the surviving corpus: the member
    * relation stores the exact double view `e` of each original
    * embedding, and int8 quantization of `e` equals quantization of
    * the original float column, so the md5-ordered init, every Lloyd
    * step, and the final argmin replay identically (the q140 oracle
    * re-runs the whole training relationally over the full corpus).
    * Emits no pairs: pair history is append-only (the LSM contract —
    * [[delete]] does not retract either); retraining re-balances
    * future ingest cost, it does not rewrite past outputs.
    */
  def retrain(idx: SemanticIndex, c: Int, iters: Int = 2): SemanticIndex = {
    val ds = idx.members
      .select(col("id"), col("e"),
        graft.functions.VectorFunctions.quantInt8Col(col("e")).as("qi"))
      .filter(col("qi").isNotNull)
      .withColumn("qd", col("qi").cast("array<double>"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainPortable(ds, "id", c, iters)
    val m = ds
      .select(col("id"), col("e"),
        Similarity.nearestCentroid(col("qd"), cents).as("bucket"))
      .withColumn("nrm", norm2(col("e")))
      .select(col("id"), col("e"), col("bucket"), col("nrm"))
      .localCheckpoint()
    ds.unpersist(blocking = false)
    SemanticIndex(cents, m)
  }

  /** Publish as catalog tables `<name>_centroids` / `<name>_members`
    * (atomic versioned overwrite, history vacuumed).
    */
  def save(idx: SemanticIndex, catalog: ParquetCatalog, name: String,
      vacuumHistory: Boolean = true)(implicit s: SparkSession): Unit = {
    val centSchema = StructType(Seq(StructField("cluster", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
    val centRows = idx.centroids.zipWithIndex.map { case (cent, i) =>
      Row(i, cent.toSeq)
    }
    val centDf = s.createDataFrame(
      s.sparkContext.parallelize(centRows.toSeq, 1), centSchema)
    IndexStore.publish(catalog, vacuumHistory,
      s"${name}_centroids" -> centDf, s"${name}_members" -> idx.members)
  }

  /** Rehydrate a [[save]]d index (centroid matrix re-collected in
    * cluster order — c×dims, driver-small).
    */
  def load(catalog: ParquetCatalog, name: String): SemanticIndex = {
    val cents = catalog.table(s"${name}_centroids")
      .orderBy(col("cluster")).collect()
      .map(_.getSeq[Double](1).toArray)
    SemanticIndex(cents, catalog.table(s"${name}_members"))
  }

  /** (id, bucket, e, nrm) under the STORED centroids — assignment is
    * the same exact argmin (ties → lower cluster) as the one-shot
    * operator and the oracle replay.
    */
  private def members(ds: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    ds.select(col(idCol).as("id"), asDouble(col(vecCol)).as("e"),
        nearestCentroid(col("qd"), cents).as("bucket"))
      .withColumn("nrm", norm2(col("e")))

  /** Same-bucket collisions of `probe` against `all`, exact-cosine
    * verified, normalized to (a < b) and deduped — probe×probe pairs
    * surface from both orientations, probe×rest from one.
    */
  private def pairs(probe: DataFrame, all: DataFrame,
      threshold: Double): DataFrame =
    probe.select(col("bucket"), col("id").as("x"), col("e").as("xe"),
        col("nrm").as("nx"))
      .join(all.select(col("bucket"), col("id").as("y"),
        col("e").as("ye"), col("nrm").as("ny")), Seq("bucket"))
      .filter(col("x") =!= col("y"))
      .filter(dot(col("xe"), col("ye")) / sqrt(col("nx") * col("ny"))
        >= threshold)
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
}
