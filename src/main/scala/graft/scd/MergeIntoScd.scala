package graft.scd

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SCD Type-2 merge expressed through the ANSI `MERGE INTO` door
  * ([[CatalogSql]]) — the lakehouse-standard recipe: a preparatory source
  * relation carries the staging snapshot PLUS one synthetic
  * NULL-join-key row per version to open (a matched pair can only
  * update in MERGE semantics, never also insert, so reopened versions
  * must arrive as not-matched rows), with surrogate keys and version
  * numbers precomputed in the preparation.
  *
  * Generated statements reproduce [[ScdMerge]]'s stable-key, null-safe
  * semantics exactly (MergeSqlSpec asserts set equality with the
  * q13 feed; q101 hash-checks both against the same DuckDB oracle):
  *   - WHEN MATCHED + active + Type-2-changed: Type-1 refresh, close
  *     (B4);
  *   - WHEN MATCHED otherwise: Type-1 refresh (B2/B3);
  *   - WHEN NOT MATCHED: open the precomputed version (B5 reopen via
  *     the synthetic rows, B6 brand-new via the unmatched staging
  *     rows);
  *   - target-only rows carry unchanged (B1) — no clause needed.
  *
  * Surrogates follow [[KeyMode.Stable]]: `max(existing) + rank` over
  * the opened rows ordered by (businessKeys, version).
  */
object MergeIntoScd {

  private def q(c: String): String = s"`$c`"

  /** SQL for the preparatory source relation over relations `$dim` and
    * `$stag`: every staging row (join keys set), plus one NULL-key row
    * per version to open, carrying `__new_id` / `__new_version`.
    */
  def sourceSql(schema: ScdSchema, dim: String, stag: String): String = {
    val keys = schema.businessKeys
    val keysEq = keys.map(k => s"p.${q(k)} = s.${q(k)}").mkString(" AND ")
    val changed = schema.type2Cols
      .map(c => s"p.${q(c)} IS DISTINCT FROM s.${q(c)}")
      .mkString("(", " OR ", ")")
    val stagCols = schema.stagingCols.map(q).mkString(", ")
    val sStagCols = schema.stagingCols.map(c => s"s.${q(c)}").mkString(", ")
    val joinKeys = keys.map(k => s"s.${q(k)} AS ${q("__join_" + k)}")
      .mkString(", ")
    val nullKeys = keys.map(k => s"NULL AS ${q("__join_" + k)}")
      .mkString(", ")
    val rankOrder = (keys.map(q) :+ "__new_version").mkString(", ")
    s"""WITH prod_active AS (
       |  SELECT * FROM $dim WHERE ${q(schema.activeCol)}
       |), reopened AS (
       |  SELECT $sStagCols, p.${q(schema.versionCol)} + 1 AS __new_version
       |  FROM $stag s JOIN prod_active p ON $keysEq
       |  WHERE $changed
       |), brand_new AS (
       |  SELECT $sStagCols, 1 AS __new_version
       |  FROM $stag s LEFT JOIN (SELECT DISTINCT ${keys.map(q).mkString(", ")}
       |    FROM $dim) p ON $keysEq
       |  WHERE p.${q(keys.head)} IS NULL
       |), opened AS (
       |  SELECT * FROM reopened UNION ALL SELECT * FROM brand_new
       |), mx AS (
       |  SELECT COALESCE(MAX(${q(schema.surrogateCol)}), 0) AS __max_id
       |  FROM $dim
       |), numbered AS (
       |  SELECT o.*, mx.__max_id
       |    + ROW_NUMBER() OVER (ORDER BY $rankOrder) AS __new_id
       |  FROM opened o CROSS JOIN mx
       |)
       |SELECT $joinKeys, $stagCols,
       |  CAST(NULL AS BIGINT) AS __new_id, CAST(NULL AS INT) AS __new_version
       |FROM $stag s
       |UNION ALL
       |SELECT $nullKeys, $stagCols, __new_id, __new_version
       |FROM numbered""".stripMargin
  }

  /** The MERGE statement into `$dim` from `$src` (a relation name, or
    * [[sourceSql]] as a parenthesized subquery). Timestamps are SQL
    * literals (`asOf`, `high` as `yyyy-MM-dd HH:mm:ss`).
    */
  def mergeSql(schema: ScdSchema, dim: String, src: String,
      asOf: String, high: String): String = {
    val onKeys = schema.businessKeys
      .map(k => s"p.${q(k)} = m.${q("__join_" + k)}").mkString(" AND ")
    val changed = schema.type2Cols
      .map(c => s"p.${q(c)} IS DISTINCT FROM m.${q(c)}")
      .mkString("(", " OR ", ")")
    val t1Sets = schema.type1Cols.map(c => s"${q(c)} = m.${q(c)}")
    val insCols = (schema.surrogateCol +: schema.stagingCols) ++
      schema.scdCols
    val insVals = s"m.__new_id" +:
      schema.stagingCols.map(c => s"m.${q(c)}") ++:
      Seq("m.__new_version", s"TIMESTAMP '$asOf'", s"TIMESTAMP '$high'",
        "true")
    val closeSets = (t1Sets ++ Seq(
      s"${q(schema.endCol)} = TIMESTAMP '$asOf'",
      s"${q(schema.activeCol)} = false")).mkString(", ")
    val refreshClause =
      if (t1Sets.isEmpty) ""
      else s"\nWHEN MATCHED THEN UPDATE SET ${t1Sets.mkString(", ")}"
    s"""MERGE INTO $dim p
       |USING $src m
       |ON $onKeys
       |WHEN MATCHED AND p.${q(schema.activeCol)} AND $changed
       |  THEN UPDATE SET $closeSets$refreshClause
       |WHEN NOT MATCHED AND m.__new_id IS NOT NULL
       |  THEN INSERT (${insCols.map(q).mkString(", ")})
       |  VALUES (${insVals.mkString(", ")})""".stripMargin
  }

  /** The merged dimension as one lazy plan through the
    * [[CatalogSql]] door: one MERGE statement whose source is the
    * [[sourceSql]] subquery, its relation names bound to `production`
    * and `staging` by the door's lookup — no session view is
    * registered, so interleaved merges on one session never see each
    * other's inputs.
    */
  def apply(spark: SparkSession, production: DataFrame, staging: DataFrame,
      schema: ScdSchema, asOf: String, high: String): DataFrame = {
    val src = s"(${sourceSql(schema, "scd_dim", "scd_stag")})"
    CatalogSql.planWith(spark, mergeSql(schema, "scd_dim", src, asOf, high),
      Map("scd_dim" -> production, "scd_stag" -> staging).get)
  }
}
