package graft.tools

import java.sql.Timestamp

import graft.SparkEntry
import graft.scd.{KeyMode, MergeOptions, ScdMerge, ScdSchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Runnable usage example: the reference's worked example end-to-end
  * (reference `README.md:54-57,84-88` → expected table `README.md:306-320`).
  * `sbt "runMain graft.tools.ScdDemo"`.
  */
object ScdDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(SparkEntry.cpus)

    val prodSchema = StructType(Seq(
      StructField("dim_user_id", IntegerType),
      StructField("login", StringType),
      StructField("premium_user", BooleanType),
      StructField("address", StringType),
      StructField("phone", StringType),
      StructField("name", StringType),
      StructField("surname", StringType),
      StructField("year_of_birth", IntegerType),
      StructField("scd_version", IntegerType),
      StructField("scd_start_date", TimestampType),
      StructField("scd_end_date", TimestampType),
      StructField("scd_active", BooleanType)))
    val stagSchema = StructType(Seq(
      StructField("login", StringType),
      StructField("name", StringType),
      StructField("surname", StringType),
      StructField("year_of_birth", IntegerType),
      StructField("premium_user", BooleanType),
      StructField("address", StringType),
      StructField("phone", StringType)))

    def ts(s: String) = Timestamp.valueOf(s)
    val high = ts("9999-12-31 23:59:59")

    val production = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1, "user1", true, "address1", "123456789", "John", "Doe", 1980, 1,
          ts("2024-04-01 00:00:00"), high, true),
        Row(2, "user2", false, "address2", null, "Alice", "Smith", 1990, 1,
          ts("2024-04-01 00:00:00"), high, true)),
      prodSchema)
    val staging = spark.createDataFrame(
      java.util.Arrays.asList(
        Row("user1", "John", "Doe", 1985, true, "address1", "987654321"),
        Row("user2", "Alice", "Smith", 1990, true, "address2", null),
        Row("user3", "Emma", "Johnson", 1985, true, "address3", "987654321")),
      stagSchema)

    val schema = ScdSchema(
      businessKeys = Seq("login"),
      type1Cols = Seq("name", "surname", "year_of_birth"),
      type2Cols = Seq("premium_user", "address", "phone"),
      surrogateCol = "dim_user_id")
    val asOf = ts("2024-05-25 12:00:00")

    println("=== merged dimension (stable keys) ===")
    val merged = ScdMerge.merge(production, staging, schema, MergeOptions(asOf))
    merged.orderBy("login", "scd_version").show(20, truncate = false)

    println("=== re-merge same snapshot (idempotence check) ===")
    val again = ScdMerge.merge(merged, staging, schema,
      MergeOptions(ts("2024-06-01 00:00:00")))
    again.orderBy("login", "scd_version").show(20, truncate = false)

    println("=== hiveCompat mode (global renumber, coalesce-on-phone) ===")
    ScdMerge.merge(production, staging, schema,
      MergeOptions(asOf, keyMode = KeyMode.HiveCompat, nullSafeCompare = false,
        coalesceCompareCols = Set("phone")))
      .orderBy("dim_user_id").show(20, truncate = false)

    if (args.contains("--explain"))
      merged.explain("formatted")

    println("=== catalog: atomic versioned publish + time travel ===")
    val root = java.nio.file.Files.createTempDirectory("scd-demo-cat").toString
    val cat = new graft.catalog.ParquetCatalog(spark, root)
    cat.create("dim_user", prodSchema)
    cat.overwrite("dim_user", production)
    cat.overwrite("dim_user",
      ScdMerge.merge(cat.table("dim_user"), staging, schema, MergeOptions(asOf)))
    println(s"current version: ${cat.currentVersion("dim_user")}, " +
      s"rows now: ${cat.table("dim_user").count()}, " +
      s"rows at v1 (pre-merge snapshot): ${cat.tableAsOfVersion("dim_user", 1).count()}")

    println("=== SQL front door: reference's 8 statements via spark.sql ===")
    spark.sql("DROP TABLE IF EXISTS dim_user_production")
    spark.sql("DROP TABLE IF EXISTS dim_user_staging")
    production.write.saveAsTable("dim_user_production")
    staging.write.saveAsTable("dim_user_staging")
    graft.scd.ScdSql.statements(spark, schema, "dim_user_production",
      "dim_user_staging", "dim_user_new",
      asOfSql = "TIMESTAMP '2024-05-25 12:00:00'",
      coalesceCols = Set("phone"))
      .foreach { st => println(st.linesIterator.next() + " ..."); spark.sql(st) }
    spark.table("dim_user_production")
      .orderBy("dim_user_id").show(20, truncate = false)

    spark.stop()
  }
}
