package graft.scd

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.queries.fixtures.Streams
import org.apache.spark.sql.functions._

/** DELETE FROM / UPDATE front door: ANSI predicate semantics (NULL
  * keeps), aliased/qualified forms, catalog publish + time travel,
  * rejection of non-DML statements.
  */
class DmlSqlSpec extends SparkSpec {

  import spark.implicits._

  private def seed = Seq(
    (1L, "a", Some(10L)), (2L, "b", None), (3L, "c", Some(30L)),
    (4L, "d", Some(40L))).toDF("id", "name", "v")

  test("DELETE: TRUE deletes, FALSE and NULL keep") {
    seed.createOrReplaceTempView("dml_t")
    val got = CatalogSql.plan(spark, "DELETE FROM dml_t WHERE v > 15")
      .orderBy($"id").collect().map(_.getLong(0)).toSeq
    // v>15: id3,id4 TRUE (deleted); id1 FALSE, id2 NULL (kept)
    assert(got == Seq(1L, 2L))
  }

  test("UPDATE: assignments apply only where the predicate is TRUE") {
    seed.createOrReplaceTempView("dml_t")
    val got = CatalogSql.plan(spark,
        "UPDATE dml_t SET name = concat(name, '!'), v = v + 1 WHERE v >= 30")
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b", -1L), (3L, "c!", 31L),
      (4L, "d!", 41L)))
  }

  test("aliased target with qualified assignment and no WHERE") {
    seed.createOrReplaceTempView("dml_t")
    val got = CatalogSql.plan(spark, "UPDATE dml_t AS x SET x.v = 0")
      .agg(sum($"v")).collect().head.getLong(0)
    assert(got == 0L)
  }

  test("execute publishes atomically; time travel keeps the pre-image") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dml").toString
    val cat = new ParquetCatalog(spark, root)
    cat.create("t", seed.schema)
    cat.overwrite("t", seed)
    val v0 = cat.currentVersion("t").get
    CatalogSql.execute(spark, cat, "DELETE FROM t WHERE id % 2 = 0")
    CatalogSql.execute(spark, cat,
      "UPDATE t SET name = upper(name) WHERE v IS NOT NULL")
    assert(cat.currentVersion("t").get == v0 + 2)
    val fin = cat.table("t").orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin == Seq((1L, "A"), (3L, "C")))
    // pre-statement snapshot intact
    assert(cat.tableAsOfVersion("t", v0).count() == 4)
    Streams.rmTree(root)
  }

  test("non-DML statements and unknown columns are rejected") {
    seed.createOrReplaceTempView("dml_t")
    intercept[IllegalArgumentException](
      CatalogSql.plan(spark, "SELECT * FROM dml_t"))
    intercept[IllegalArgumentException](
      CatalogSql.plan(spark, "UPDATE dml_t SET nope = 1"))
    // a value that does not convert to the column type is loud, never
    // a silent retype of the column
    val e = intercept[Exception](
      CatalogSql.plan(spark, "UPDATE dml_t SET v = 'x' WHERE id = 1")
        .collect())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("not coercible"))))
  }

  test("executeMor pins its base: a stale-base delta publish is loud") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-dml-cas").toString
    val cat = new ParquetCatalog(spark, root)
    cat.create("t", seed.schema)
    cat.overwrite("t", seed)
    val v = cat.currentVersion("t").get
    // a concurrent writer advances the table past the version the
    // MoR statement computed its deletion vector against
    cat.overwrite("t", seed.filter($"id" =!= 4L))
    intercept[java.util.ConcurrentModificationException](
      cat.publishDelta("t", "id", Seq(2L).toDF("id"),
        expectedBase = Some(v)))
    // unraced, the pinned path publishes and resolves normally
    val got = CatalogSql.executeMor(spark, cat,
      "DELETE FROM t WHERE id = 1", "id")
    assert(got.orderBy($"id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 3L))
    Streams.rmTree(root)
  }
}
