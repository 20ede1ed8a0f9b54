package graft.scd

import java.nio.file.Files

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** ALTER TABLE ADD COLUMN through the catalog version chain: widened
  * schema = next version, old versions keep their original schema,
  * defaults fill existing rows, malformed statements are loud.
  */
class DdlSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-ddl").toString
    (new ParquetCatalog(spark, root), root)
  }

  private def seed(cat: ParquetCatalog): Unit = {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    cat.create("t", df.schema)
    cat.overwrite("t", df)
  }

  test("ADD COLUMNS widens as the next version; time travel keeps " +
      "the original schema") {
    val (cat, root) = freshCat()
    seed(cat)
    val v0 = cat.currentVersion("t").get
    CatalogSql.execute(spark, cat,
      "ALTER TABLE t ADD COLUMNS (lang STRING, score BIGINT)")
    assert(cat.currentVersion("t").get == v0 + 1)
    assert(cat.table("t").columns.toSeq ==
      Seq("id", "v", "lang", "score"))
    // new columns are NULL for every pre-existing row
    assert(cat.table("t").filter(col("lang").isNull &&
      col("score").isNull).count() == 3)
    // the pre-alter version still reads under its ORIGINAL schema
    assert(cat.tableAsOfVersion("t", v0).columns.toSeq == Seq("id", "v"))
    Streams.rmTree(root)
  }

  test("DEFAULT literal fills existing rows; UPDATE can then reassign") {
    val (cat, root) = freshCat()
    seed(cat)
    CatalogSql.execute(spark, cat,
      "ALTER TABLE t ADD COLUMN score BIGINT DEFAULT 7")
    assert(cat.table("t").select(sum(col("score"))).head().getLong(0)
      == 21L)
    CatalogSql.execute(spark, cat,
      "UPDATE t SET score = id * 10 WHERE id >= 2")
    assert(cat.table("t").orderBy(col("id"))
      .select(col("score")).as[Long].collect().toSeq ==
      Seq(7L, 20L, 30L))
    Streams.rmTree(root)
  }

  test("RENAME COLUMN: values and position stable, next version, " +
      "time travel keeps the original name") {
    val (cat, root) = freshCat()
    seed(cat)
    val v0 = cat.currentVersion("t").get
    CatalogSql.execute(spark, cat, "ALTER TABLE t RENAME COLUMN v TO label")
    assert(cat.currentVersion("t").get == v0 + 1)
    assert(cat.table("t").columns.toSeq == Seq("id", "label"))
    assert(cat.table("t").orderBy(col("id"))
      .select(col("label")).as[String].collect().toSeq ==
      Seq("a", "b", "c"))
    assert(cat.tableAsOfVersion("t", v0).columns.toSeq == Seq("id", "v"))
    // renaming onto an existing name, or a missing source, is loud
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE t RENAME COLUMN label TO id")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE t RENAME COLUMN nope TO x")
    }
    Streams.rmTree(root)
  }

  test("DROP COLUMN: projects away as the next version; IF EXISTS " +
      "tolerates missing; dropping everything is loud") {
    val (cat, root) = freshCat()
    seed(cat)
    val v0 = cat.currentVersion("t").get
    CatalogSql.execute(spark, cat, "ALTER TABLE t DROP COLUMN v")
    assert(cat.currentVersion("t").get == v0 + 1)
    assert(cat.table("t").columns.toSeq == Seq("id"))
    assert(cat.tableAsOfVersion("t", v0).columns.toSeq == Seq("id", "v"))
    // missing without IF EXISTS: loud; with IF EXISTS: no-op version
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE t DROP COLUMN nope")
    }
    val vBefore = cat.currentVersion("t").get
    CatalogSql.execute(spark, cat,
      "ALTER TABLE t DROP COLUMN IF EXISTS nope")
    assert(cat.currentVersion("t").get == vBefore)
    intercept[IllegalArgumentException] { // last column must survive
      CatalogSql.execute(spark, cat, "ALTER TABLE t DROP COLUMN id")
    }
    Streams.rmTree(root)
  }

  test("ALTER COLUMN TYPE widens INT->BIGINT as the next version; " +
      "pre-alter versions time-travel under the original type; " +
      "narrowing and cross-family changes are loud") {
    val (cat, root) = freshCat()
    val df = Seq((1, 10), (2, 20)).toDF("id", "n")
    cat.create("w", df.schema)
    cat.overwrite("w", df)
    val v0 = cat.currentVersion("w").get
    CatalogSql.execute(spark, cat, "ALTER TABLE w ALTER COLUMN n TYPE BIGINT")
    assert(cat.table("w").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(cat.tableAsOfVersion("w", v0).schema("n").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // the widened type is live: a 64-bit value flows through
    CatalogSql.execute(spark, cat,
      "UPDATE w SET n = n * 400000000 WHERE id = 2")
    assert(cat.table("w").where(col("id") === 2).head().getLong(1) ==
      8000000000L)
    // values and positions stable for untouched rows
    assert(cat.table("w").where(col("id") === 1).head().getLong(1) == 10L)
    intercept[IllegalArgumentException] { // narrowing
      CatalogSql.execute(spark, cat, "ALTER TABLE w ALTER COLUMN n TYPE INT")
    }
    intercept[IllegalArgumentException] { // cross-family
      CatalogSql.execute(spark, cat,
        "ALTER TABLE w ALTER COLUMN id TYPE STRING")
    }
    intercept[IllegalArgumentException] { // same type: no-op rejected
      CatalogSql.execute(spark, cat, "ALTER TABLE w ALTER COLUMN n TYPE BIGINT")
    }
    intercept[IllegalArgumentException] { // missing column
      CatalogSql.execute(spark, cat, "ALTER TABLE w ALTER COLUMN z TYPE BIGINT")
    }
    Streams.rmTree(root)
  }

  test("duplicate, nested, positioned, and non-ALTER statements are " +
      "loud; unknown table is loud") {
    val (cat, root) = freshCat()
    seed(cat)
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE t ADD COLUMN v STRING")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE t ADD COLUMN s.f STRING")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat,
        "ALTER TABLE t ADD COLUMN w STRING FIRST")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "SELECT 1")
    }
    intercept[IllegalArgumentException] {
      CatalogSql.execute(spark, cat, "ALTER TABLE missing ADD COLUMN x INT")
    }
    Streams.rmTree(root)
  }
}
