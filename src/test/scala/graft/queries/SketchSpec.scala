package graft.queries

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Accuracy bounds for sketch aggregates. q29 is oracle-checked (the
  * portable KMV estimate + exact median replay bit-for-bit in DuckDB);
  * Spark's BUILT-IN engine-specific sketches (HLL++ cardinality,
  * percentile_approx) cannot be, so their error-bound contract lives
  * here against the exact answers.
  */
class SketchSpec extends SparkSpec {

  test("q29 KMV cardinality within 20% of exact; median inside range") {
    val rows = graft.SparkEntry.queries("q29_sketches")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Double]("approx_orders")
      // KMV at k=64 has relative stddev ~1/sqrt(k-2) ≈ 12.7%
      assert(math.abs(approx - exact) / exact < 0.3,
        s"KMV error too large: exact=$exact approx=$approx")
      assert(r.getAs[Double]("median_price") > 0)
    }
  }

  test("built-in HLL++ within 5% of exact; approx median near exact") {
    val rows = Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("hll_orders"),
        expr("percentile(l_extendedprice, 0.5D)").as("exact_median"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val hll = r.getAs[Long]("hll_orders").toDouble
      assert(math.abs(hll - exact) / exact < 0.05,
        s"HLL error too large: exact=$exact approx=$hll")
      val em = r.getAs[Double]("exact_median")
      val am = r.getAs[Double]("approx_median")
      assert(math.abs(am - em) / em < 0.05,
        s"approx median too far: exact=$em approx=$am")
    }
  }

  test("sketches are deterministic run-to-run") {
    val a = graft.SparkEntry.queries("q29_sketches")(
      spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSet
    val b = graft.SparkEntry.queries("q29_sketches")(
      spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
