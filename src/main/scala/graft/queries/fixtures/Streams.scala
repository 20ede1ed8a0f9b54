package graft.queries.fixtures

import java.nio.file.Files

import graft.catalog.ParquetCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Streaming and staging fixtures: temp directories, the
  * three-slice landing the inline doors drain and their no-batch error,
  * and the throwaway catalog the export queries publish through.
  */
object Streams {

  /** Recursive delete of a staging/checkpoint temp directory. */
  private[graft] def rmTree(dir: String): Unit = {
    import java.nio.file.{Files => F, Path}
    import java.util.Comparator
    val root = Path.of(dir)
    if (F.exists(root)) {
      val walk = F.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => F.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Land `df` in a fresh `<prefix>-land` temp directory as three
    * single-file slices, `key % 3` = 0, 1, 2 in that order, each mapped
    * by `slice(part, k)` first: the file split the inline streaming
    * doors drain one file per micro-batch.
    */
  private[graft] def landThirds(df: DataFrame, key: String, prefix: String,
      slice: (DataFrame, Int) => DataFrame = (d, _) => d): String = {
    val land = Files.createTempDirectory(s"$prefix-land").toString
    (0 to 2).foreach { k =>
      slice(df.filter(col(key) % 3 === k), k)
        .coalesce(1).write.mode("append").parquet(land)
    }
    land
  }

  /** The error an inline streaming door raises when its fold saw no
    * micro-batch, in place of a null accumulator.
    */
  private[graft] def noBatch(query: String): IllegalStateException =
    new IllegalStateException(s"$query: stream delivered no micro-batch")

  /** Runs `body` on a fresh `<prefix>…` temp directory and removes the
    * directory afterwards, also when `body` throws.
    */
  private[graft] def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally rmTree(dir)
  }

  /** Runs `body` against a fresh ParquetCatalog in a `graft-<query>`
    * temp directory, materializes its result and removes the directory
    * (also when `body` throws).
    */
  private[queries] def withCatalog(s: SparkSession, query: String)(
      body: ParquetCatalog => DataFrame): DataFrame =
    withTempDir(s"graft-$query") { root =>
      body(new ParquetCatalog(s, root)).localCheckpoint()
    }

  /** The checksum view of the `shards` token tape in `cat`: per
    * sequence its token count and position-weighted token sum.
    */
  private[queries] def tapeSums(cat: ParquetCatalog): DataFrame = {
    val (bin, _) = graft.pipeline.Packing.readShards(cat, "shards")
    bin
      .select(col("grp"), col("seq"), col("n_tok"),
        graft.functions.TokenBinary.weightedSumCol(col("tokens"))
          .as("tok_wsum"))
      .orderBy(col("grp"), col("seq"))
  }
}
