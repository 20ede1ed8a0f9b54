package graft.scd

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** CTAS + INSERT INTO/OVERWRITE … SELECT through the catalog version
  * chain: catalog-first query resolution, positional/named/BY NAME
  * column alignment, time travel across appends, loud misuse.
  */
class CtasSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-ctas").toString
    (new ParquetCatalog(spark, root), root)
  }

  private def rows(cat: ParquetCatalog, name: String): Set[(Long, String)] =
    cat.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("CTAS publishes the query result as version 0; INSERT INTO " +
      "SELECT appends positionally; time travel sees each boundary") {
    val (cat, root) = freshCat()
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").createOrReplaceTempView("ctas_src")
    CtasSql.execute(spark, cat,
      "CREATE TABLE t AS SELECT id, v FROM ctas_src WHERE id <= 2")
    assert(cat.currentVersion("t").contains(0L))
    assert(rows(cat, "t") == Set((1L, "a"), (2L, "b")))
    CtasSql.execute(spark, cat,
      "INSERT INTO t SELECT id, v FROM ctas_src WHERE id = 3")
    CtasSql.execute(spark, cat,
      "INSERT INTO t (v, id) SELECT v, id FROM ctas_src WHERE id = 4")
    assert(rows(cat, "t") ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(cat.tableAsOfVersion("t", 0).count() == 2)
    assert(cat.tableAsOfVersion("t", 1).count() == 3)
    Streams.rmTree(root)
  }

  test("catalog-first resolution: the SELECT reads a CATALOG table; " +
      "INSERT OVERWRITE replaces content as a new version") {
    val (cat, root) = freshCat()
    Seq((10L, "x"), (11L, "y")).toDF("id", "v")
      .createOrReplaceTempView("ctas_src2")
    CtasSql.execute(spark, cat,
      "CREATE TABLE stage AS SELECT * FROM ctas_src2")
    CtasSql.execute(spark, cat,
      "CREATE TABLE t2 AS SELECT id, upper(v) AS v FROM stage")
    assert(rows(cat, "t2") == Set((10L, "X"), (11L, "Y")))
    CtasSql.execute(spark, cat,
      "INSERT OVERWRITE t2 SELECT id + 1, v FROM stage")
    assert(rows(cat, "t2") == Set((11L, "x"), (12L, "y")))
    assert(cat.tableAsOfVersion("t2", 0).count() == 2) // snapshot kept
    Streams.rmTree(root)
  }

  test("named column list fills unnamed target columns with NULL; " +
      "BY NAME requires the exact column set") {
    val (cat, root) = freshCat()
    Seq((1L, "a", 5L)).toDF("id", "v", "n")
      .createOrReplaceTempView("ctas_src3")
    CtasSql.execute(spark, cat,
      "CREATE TABLE t3 AS SELECT * FROM ctas_src3")
    CtasSql.execute(spark, cat,
      "INSERT INTO t3 (id, v) SELECT 2, 'b'")
    val got = cat.table("t3").where(col("id") === 2).head()
    assert(got.getString(1) == "b" && got.isNullAt(2))
    CtasSql.execute(spark, cat,
      "INSERT INTO t3 BY NAME SELECT 9 AS n, 'c' AS v, 3 AS id")
    val byName = cat.table("t3").where(col("id") === 3).head()
    assert(byName.getString(1) == "c" && byName.getLong(2) == 9L)
    val e = intercept[IllegalArgumentException](CtasSql.execute(spark,
      cat, "INSERT INTO t3 BY NAME SELECT 4 AS id, 'd' AS v"))
    assert(e.getMessage.contains("exact column set"))
    Streams.rmTree(root)
  }

  test("loud misuse: CTAS on an existing table (IF NOT EXISTS is a " +
      "no-op), column-count mismatch, unknown named column, " +
      "INSERT into a missing table") {
    val (cat, root) = freshCat()
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("ctas_src4")
    CtasSql.execute(spark, cat,
      "CREATE TABLE t4 AS SELECT * FROM ctas_src4")
    intercept[IllegalArgumentException](CtasSql.execute(spark, cat,
      "CREATE TABLE t4 AS SELECT * FROM ctas_src4"))
    CtasSql.execute(spark, cat, // no-op, still one row
      "CREATE TABLE IF NOT EXISTS t4 AS SELECT id + 9, v FROM ctas_src4")
    assert(rows(cat, "t4") == Set((1L, "a")))
    intercept[IllegalArgumentException](CtasSql.execute(spark, cat,
      "INSERT INTO t4 SELECT id FROM ctas_src4"))
    intercept[IllegalArgumentException](CtasSql.execute(spark, cat,
      "INSERT INTO t4 (id, nope) SELECT id, v FROM ctas_src4"))
    intercept[IllegalArgumentException](CtasSql.execute(spark, cat,
      "INSERT INTO missing SELECT * FROM ctas_src4"))
    Streams.rmTree(root)
  }
}
