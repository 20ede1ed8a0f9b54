package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.Random

/** The native `lsh_bands` kernel against the composed formulation it
  * replaced: one interpreted `array_min(transform(shs, …minhash…))`
  * per MinHash value, then `md5(concat_ws(",", …))` per band. Bucket
  * strings must match bit for bit, on random sets and the empty set.
  */
class LshBandsSpec extends SparkSpec {

  import spark.implicits._

  /** `(band, bucket)` structs of the composed formulation. */
  private def composed(shs: Column, bands: Int, rowsPerBand: Int): Column = {
    val mh = (0 until bands * rowsPerBand).map(i => array_min(transform(shs,
      x => PortableHash.minhash(x % PortableHash.MinhashPrime, i))))
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), md5(concat_ws(",",
        (0 until rowsPerBand).map(r => mh(b * rowsPerBand + r)): _*))
        .as("bucket"))
    }: _*)
  }

  /** Band keys per row, in `i` order. */
  private def keys(df: DataFrame, c: Column): Seq[Seq[(Int, String)]] =
    df.select(col("i"), c).orderBy("i").collect().toSeq
      .map(_.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getInt(0), r.getString(1))))

  for (seed <- Seq(3, 17, 91)) test(s"lsh_bands equals the composed signature and buckets (seed $seed)") {
    val rnd = new Random(seed)
    // 60-bit shingle hashes (the ShingleHash60 range), random sizes,
    // the empty set and a one-element set included
    val sets = Seq(Seq.empty[Long], Seq(rnd.nextLong() >>> 4)) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(120))(rnd.nextLong() >>> 4))
    val local = sets.zipWithIndex.map(_.swap).toDF("i", "shs")
    // a local relation folds the projection at optimization time
    // (interpreted eval); behind a shuffle it runs as generated code
    for (df <- Seq(local, local.repartition(3));
         (bands, rowsPerBand) <- Seq(6 -> 2, 4 -> 3, 1 -> 1)) {
      val got = keys(df, TextHash.lshBands(col("shs"), bands, rowsPerBand))
      val want = keys(df, composed(col("shs"), bands, rowsPerBand))
      assert(got == want, s"$bands bands x $rowsPerBand rows")
    }
    // the empty set's bands are md5("") each, as concat_ws gives ""
    assert(keys(local.limit(1), TextHash.lshBands(col("shs"), 6, 2)).head
      .map(_._2).toSet == Set("d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("lsh_bands is whole-stage code generated and rejects non-long arrays") {
    val df = spark.range(3).select(array(col("id"), col("id") * 7L).as("shs"))
      .select(TextHash.lshBands(col("shs"), 6, 2).as("b"))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("*(1) Project"), plan.toString)
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq("x")).toDF("shs").select(TextHash.lshBands(col("shs"), 6, 2))
        .queryExecution.assertAnalyzed())
    assert(bad.getMessage.contains("lsh_bands"))
  }
}
