package perfbench

import graft.catalog.ParquetCatalog
import graft.scd.{MergeOptions, ScdTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The harness's own checks (`run.py --selftest`): the generator is a
  * pure function of the seed, and the invariant check trips on each kind
  * of corrupted dimension.
  */
object SelfTest {

  def run(spark: SparkSession, work: String): Int = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    val d = Gen.Dim(keys = 2000)
    val hash = (df: DataFrame) => Checks.contentHash(df)

    // same seed, different partitioning -> identical inputs
    def inputs(seed: Long, parts: Int): Seq[DataFrame] = Seq(
      Gen.initialDim(spark, seed, d, parts), Gen.snapshot(spark, seed, d, 5, parts),
      Gen.orders(spark, seed, d, 3000, 5, parts),
      Gen.corpus(spark, seed, Gen.Corpus(800), parts))
    val a = inputs(7, 2).map(hash)
    expect(a == inputs(7, 5).map(hash), "same seed gives identical inputs")
    expect(a.zip(inputs(8, 2).map(hash)).forall { case (x, y) => x != y },
      "another seed gives other inputs")

    // a sound dimension passes; each corruption of it is caught
    val dim = new ScdTable(new ParquetCatalog(spark, s"$work/selftest-cat"),
      "dim", Gen.schema)
    dim.init(Gen.initialDim(spark, 7, d, 2))
    var rows = d.keysAt(0)
    (1 to 3).foreach { i =>
      dim.apply(Gen.snapshot(spark, 7, d, i, 2), MergeOptions(Gen.asOf(i), highDate = Gen.HighTs))
      rows += Gen.openedAt(spark, 7, d, i)
    }
    val good = dim.snapshot.localCheckpoint()
    val (bad, n) = Checks.scdInvariants(good, Some(rows))
    expect(bad.isEmpty && n == rows, s"sound dimension passes ($n rows) ${bad.mkString("; ")}")
    val closed = col("scd_active") === false
    val one = good.filter(closed).orderBy("dim_id").limit(1)
    val maxId = good.agg(max("dim_id")).head().getLong(0)
    val corrupt: Seq[(String, DataFrame, Long)] = Seq(
      ("second active row for a key",
        good.unionByName(good.filter(col("scd_active")).orderBy("dim_id").limit(1)
          .withColumn("dim_id", lit(maxId + 1))
          .withColumn("scd_version", col("scd_version") + 1)), rows + 1),
      ("gap between versions", good.withColumn("scd_end_date",
        when(col("dim_id") === one.head().getAs[Long]("dim_id"),
          col("scd_end_date") - expr("INTERVAL 1 SECOND")).otherwise(col("scd_end_date"))), rows),
      ("duplicate surrogate key", good.withColumn("dim_id",
        when(col("dim_id") === maxId, lit(maxId - 1)).otherwise(col("dim_id"))), rows),
      ("version numbers skip", good.withColumn("scd_version",
        when(col("scd_active") && col("scd_version") === 1, col("scd_version") + 1)
          .otherwise(col("scd_version"))), rows),
      ("row lost", good.filter(col("dim_id") =!= maxId), rows))
    corrupt.foreach { case (what, df, expected) =>
      val (b, _) = Checks.scdInvariants(df, Some(expected))
      expect(b.nonEmpty, s"corruption caught: $what -> ${b.mkString("; ")}")
    }
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
