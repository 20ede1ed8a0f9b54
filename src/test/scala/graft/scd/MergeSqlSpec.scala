package graft.scd

import graft.SparkSpec
import graft.catalog.ParquetCatalog
import graft.queries.fixtures.Scd
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ANSI MERGE INTO front door: clause taxonomy against hand-checked
  * fixtures, the ANSI cardinality violation, atomic catalog publish,
  * and — the headline — exact equivalence of the generated SCD-2 recipe
  * with ScdMerge's one-join plan on the q13 feed.
  */
class MergeSqlSpec extends SparkSpec {

  private def fixture(): Unit = {
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "name", "v").createOrReplaceTempView("msql_t")
    Seq((2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "name", "v").createOrReplaceTempView("msql_s")
  }

  test("update / delete / insert clauses with conditions, first-match-wins") {
    fixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED AND s.v > 100 THEN UPDATE SET name = s.name, v = s.v
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.v >= 40 THEN INSERT (id, name) VALUES (s.id, s.name)
        |""".stripMargin)
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.toString)))
    // 1: target-only, carried; 2: matched cond -> updated; 3: matched,
    // second clause -> deleted; 4: not matched -> inserted, v unset
    assert(out.toSeq == Seq(
      (1L, "a", Some("10")), (2L, "B", Some("200")), (4L, "d", None)))
  }

  test("NOT MATCHED BY SOURCE clauses update or delete unmatched target rows") {
    fixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED BY SOURCE AND t.v > 5 THEN UPDATE SET name = 'stale'
        |""".stripMargin)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "stale", 10L), (2L, "b", 200L), (3L, "c", 30L)))
  }

  test("UPDATE SET * and INSERT * star forms") {
    fixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("USING an aliased subquery (recovered from the statement text)") {
    fixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t
        |USING (SELECT id, upper(name) AS name, v * 10 AS v
        |       FROM msql_s WHERE v >= 40) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // ids 2 (v=200) and 4 (v=40) survive the subquery filter,
    // transformed; id 3 (v=30) is filtered out so its target row carries
    assert(out.toSeq == Seq(
      (1L, "a", 10L), (2L, "B", 2000L), (3L, "c", 30L), (4L, "D", 400L)))
  }

  test("insert-only merge carries a multi-matched target row exactly once") {
    fixture()
    import spark.implicits._
    // two source rows hit target id=2 — legal without MATCHED clauses;
    // the target row must not duplicate through the pairwise join
    Seq((2L, "x", 1L), (2L, "y", 2L), (9L, "new", 90L))
      .toDF("id", "name", "v").createOrReplaceTempView("msql_multi")
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_multi s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "new")))
  }

  test("assignment keys resolve case-insensitively; unknown columns error") {
    fixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET V = s.v""".stripMargin)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 10L), (2L, 200L), (3L, 30L)))
    val e = intercept[IllegalArgumentException] {
      MergeSql.plan(spark,
        """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET nosuch = s.v""".stripMargin)
    }
    assert(e.getMessage.contains("unknown target column"))
  }

  test("execute publishes atomically through the catalog and rejects " +
      "cardinality violations") {
    fixture()
    val cat = new ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-msql").toString)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", LongType)))
    cat.create("msql_dim", schema)
    cat.overwrite("msql_dim", spark.table("msql_t"))
    val out = MergeSql.execute(spark, cat,
      """MERGE INTO msql_dim t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(out.count() == 4 &&
      cat.table("msql_dim").filter(col("name") === "B").count() == 1)
    // duplicate source keys: one target row would match twice
    import spark.implicits._
    Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("id", "name", "v")
      .createOrReplaceTempView("msql_dup")
    val e = intercept[IllegalArgumentException] {
      MergeSql.execute(spark, cat,
        """MERGE INTO msql_dim t USING msql_dup s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"))
    // the failed merge must not have touched the published table
    assert(cat.table("msql_dim").count() == 4)
  }

  test("checked plan (the execute path) joins target against source ONCE " +
      "and still raises on a multi-match") {
    fixture()
    val sql =
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin
    val checked = MergeSql.planChecked(spark, sql)
    val joins = checked.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.length == 1, s"expected ONE join, got:\n${joins.mkString}")
    // same content as the unchecked plan when cardinality holds
    assert(checked.orderBy("id").collect().toSeq ==
      MergeSql.plan(spark, sql).orderBy("id").collect().toSeq)
    // and the guard still fires from inside that single-join plan
    import spark.implicits._
    Seq((2L, "x", 1L), (2L, "y", 2L)).toDF("id", "name", "v")
      .createOrReplaceTempView("msql_dup2")
    val bad = MergeSql.planChecked(spark,
      """MERGE INTO msql_t t USING msql_dup2 s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val e = intercept[Exception] { bad.count() }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(32)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("cardinality"))))
  }

  test("non-coercible assignment values raise instead of writing NULL") {
    fixture()
    val bad = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = 'not-a-number'""".stripMargin)
    // collect(), not count(): a bare count lets Catalyst prune the
    // projected columns and the coercion guard with them
    val e = intercept[Exception] { bad.collect() }
    def chain(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(32)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("not coercible"))))
    // a legitimately-coercible string still converts
    val ok = MergeSql.plan(spark,
      """MERGE INTO msql_t t USING msql_s s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = '77'""".stripMargin)
      .filter(col("id") === 2).collect()
    assert(ok.head.getLong(2) == 77L)
  }

  test("SCD-2 recipe through the MERGE door equals ScdMerge on the q13 feed") {
    val dir = "/root/testdata/sf0.001"
    val viaMerge = MergeIntoScd(spark,
      Scd.production(spark, dir), Scd.staging(spark, dir),
      Scd.schema, "2024-07-01 00:00:00", "2200-01-01 00:00:00")
    val viaEngine = ScdMerge.merge(
      Scd.production(spark, dir), Scd.staging(spark, dir),
      Scd.schema,
      MergeOptions(Scd.asOf,
        highDate = java.sql.Timestamp.valueOf("2200-01-01 00:00:00")))
    assert(viaMerge.schema.map(f => (f.name, f.dataType)) ==
      viaEngine.schema.map(f => (f.name, f.dataType)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Row] =
      df.collect().toSet
    assert(rows(viaMerge) == rows(viaEngine))
  }

  // ---- schema evolution (opt-in, Delta autoMerge-style) --------------

  private def evoFixture(): Unit = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .createOrReplaceTempView("msql_et")
    Seq((2L, "B", 200L, "eu"), (4L, "d", 40L, "us"))
      .toDF("id", "name", "v", "region").createOrReplaceTempView("msql_es")
  }

  test("evolution off: star forms ignore extra source columns; explicit " +
      "assignment to an unknown column still errors") {
    evoFixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_et t USING msql_es s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    assert(out.columns.toSeq == Seq("id", "name"))
    val e = intercept[IllegalArgumentException] {
      MergeSql.plan(spark,
        """MERGE INTO msql_et t USING msql_es s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET region = s.region""".stripMargin)
    }
    assert(e.getMessage.contains("unknown target column"))
  }

  test("evolution: INSERT */UPDATE SET * append new source columns; " +
      "pre-existing rows read NULL there") {
    evoFixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_et t USING msql_es s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin, evolveSchema = true)
    assert(out.columns.toSeq == Seq("id", "name", "v", "region"))
    val m = out.orderBy("id").collect()
      .map(r => r.getLong(0) -> (Option(r.get(2)), Option(r.get(3)))).toMap
    assert(m(1L) === (None, None), "carried row: NULL in evolved columns")
    assert(m(2L) === (Some(200L), Some("eu")), "updated row takes source")
    assert(m(4L) === (Some(40L), Some("us")), "inserted row takes source")
  }

  test("evolution: explicit assignments define new typed columns") {
    evoFixture()
    val out = MergeSql.plan(spark,
      """MERGE INTO msql_et t USING msql_es s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET region = s.region
        |WHEN NOT MATCHED THEN INSERT (id, name, region)
        |  VALUES (s.id, s.name, s.region)
        |""".stripMargin, evolveSchema = true)
    assert(out.columns.toSeq == Seq("id", "name", "region"))
    assert(out.schema("region").dataType ==
      org.apache.spark.sql.types.StringType)
    val m = out.orderBy("id").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(m === Map(1L -> None, 2L -> Some("eu"), 4L -> Some("us")))
  }

  test("evolution composes with NOT MATCHED BY SOURCE and the " +
      "cardinality check") {
    evoFixture()
    val out = MergeSql.planChecked(spark,
      """MERGE INTO msql_et t USING msql_es s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET name = 'stale'
        |""".stripMargin, evolveSchema = true)
    val m = out.orderBy("id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(3)))).toMap
    assert(m(1L) === ("stale", None), "by-source update; NULL evolved col")
    assert(m(2L) === ("B", Some("eu")))
    // duplicate source keys still raise through the evolving plan
    import spark.implicits._
    Seq((2L, "x", 1L, "a"), (2L, "y", 2L, "b"))
      .toDF("id", "name", "v", "region")
      .createOrReplaceTempView("msql_edup")
    val e = intercept[Exception] {
      MergeSql.planChecked(spark,
        """MERGE INTO msql_et t USING msql_edup s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
        evolveSchema = true).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("cardinality"))))
  }

  test("evolution: execute publishes the widened schema as the next " +
      "catalog version") {
    evoFixture()
    val cat = new ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-msql-evo").toString)
    cat.create("msql_edim", StructType(Seq(StructField("id", LongType),
      StructField("name", StringType))))
    cat.overwrite("msql_edim", spark.table("msql_et"))
    val v0 = cat.currentVersion("msql_edim").get
    MergeSql.execute(spark, cat,
      """MERGE INTO msql_edim t USING msql_es s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin, evolveSchema = true)
    val now = cat.table("msql_edim")
    assert(now.columns.toSeq == Seq("id", "name", "v", "region"))
    assert(now.count() == 3)
    assert(cat.currentVersion("msql_edim").get > v0)
    // the pre-evolution version is still readable with the old schema
    assert(cat.tableAsOfVersion("msql_edim", v0).columns.toSeq ==
      Seq("id", "name"))
  }
}
