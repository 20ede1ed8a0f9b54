package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.scd.{MergeOptions, ScdTable}
import graft.scd.ScdMergeSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("ScdTable: init, apply, active, asOf, asOfJoin lifecycle") {
    import ScdMergeSpec._
    val cat = new ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("scd-table").toString)
    val dim = new ScdTable(cat, "dim_user", dimUser)
    dim.init(spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1, "user1", true, "a1", "123", "John", "Doe",
        1980, 1, ts("2024-04-01 00:00:00"), high, true)), prodSchema))
    val staging = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("user1", "John", "Doe", 1980, true, "a2",
        "123")), stagSchema)
    dim(staging, asOf) // T2 address change: close v1, open v2
    assert(dim.snapshot.count() === 2)
    assert(dim.active.select("address").head.getString(0) === "a2")
    // point-in-time: before the merge instant the old address was valid
    assert(dim.asOf(ts("2024-05-01 00:00:00")).select("address")
      .head.getString(0) === "a1")
    assert(dim.asOf(ts("2024-06-01 00:00:00")).select("address")
      .head.getString(0) === "a2")
    // as-of join resolves facts to the version valid at the fact time
    val facts = Seq(("user1", ts("2024-05-01 00:00:00"), 10.0),
      ("user1", ts("2024-06-01 00:00:00"), 20.0))
      .toDF("login_fk", "fact_ts", "amount")
    val joined = dim.asOfJoin(facts, Seq("login_fk"), "fact_ts")
      .select("amount", "address").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(joined === Set((10.0, "a1"), (20.0, "a2")))
    // the native as-of operator resolves the same versions
    val native = dim.asOfJoinNative(facts, Seq("login_fk"), "fact_ts")
      .select("amount", "address").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(native === joined)
  }

  test("graft_dot is available in SQL after registration") {
    graft.functions.GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D, 3.0D),
        |                 array(2.0D, 2.0D, 2.0D)) AS d""".stripMargin)
      .head.getDouble(0)
    assert(got === 12.0)
  }

  test("graft_cosine lowers to codegen dot_product via the optimizer rule") {
    graft.functions.GraftExtensions.register(spark)
    val df = spark.sql(
      """SELECT graft_cosine(array(1.0D, 2.0D), array(3.0D, 6.0D)) AS c,
        |       graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o""".stripMargin)
    val row = df.head
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12) // parallel vectors
    assert(row.getDouble(1) === 0.0) // orthogonal
    // the marker must be gone, replaced by the codegen kernel
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_cosine") &&
      optimized.contains("dot_product"), optimized)
  }

  test("text-hash functions are available in SQL after registration") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT size(graft_shingle_hash60('a b c d', 3)) AS n_sh,
        |       graft_simhash16('hello world') AS sh,
        |       graft_rolling_hash('abc') AS rh""".stripMargin).head
    assert(row.getInt(0) === 2)
    assert(!row.isNullAt(1))
    // 'abc' -> ((97*257 + 98)*257 + 99) % (2^31-1)
    assert(row.getLong(2) === ((97L * 257 + 98) * 257 + 99) % 2147483647L)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // thresholds lowered so the skew detector fires on test-sized data;
    // the assertion is on the EXECUTED adaptive plan — the skewed
    // partition is physically split (skew=true), no salting needed
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(60000)
        .select((when(col("id") % 10 =!= 0, 1L).otherwise(col("id") % 97))
          .as("k"), concat(lit("x" * 64), col("id")).as("pay"))
      val dim = spark.range(97).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("d"))
      val joined = big.join(dim, Seq("k"))
      // drive joined's OWN QueryExecution so ITS adaptive plan finalizes
      // (count() would plan a separate query)
      assert(joined.collect().length === 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("scalar Scala UDF surface matches the native codegen expression") {
    // the UDF escape hatch exists and agrees with the preferred path —
    // kept OUT of the declared queries: a black-box UDF breaks codegen
    // and blocks every pushdown, so it's a last resort by policy
    val dot = spark.udf.register("udf_dot",
      (a: Seq[Double], b: Seq[Double]) =>
        a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
      .toDF("a", "b")
    val viaUdf = df.select(dot(col("a"), col("b"))).head.getDouble(0)
    val viaNative = df.select(
      graft.functions.VectorFunctions.dot(col("a"), col("b"))).head.getDouble(0)
    assert(viaUdf === viaNative)
    assert(spark.sql(
      "SELECT udf_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head.getDouble(0) === 11.0)
  }
}
