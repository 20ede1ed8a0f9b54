package graft.queries.fixtures

import java.sql.Timestamp

import graft.scd.ScdSchema
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD fixtures: the dimension feed derived from `customer` and the
  * oracle text that replays it, shared by the SCD query groups.
  */
object Scd {

  val schema: ScdSchema = ScdSchema(
    businessKeys = Seq("c_custkey"),
    type1Cols = Seq("c_name"),
    type2Cols = Seq("c_acctbal", "c_mktsegment"))

  val asOf: Timestamp = Timestamp.valueOf("2024-07-01 00:00:00")

  /** Open-interval sentinel for the oracle feed. The engine default is the
    * reference's 9999-12-31 (golden tests assert it), but year 9999
    * overflows nanosecond-timestamp readers (pyarrow) on the compare side,
    * so the oracle queries use a reader-safe sentinel.
    */
  private[queries] val high = "2200-01-01 00:00:00"
  private[queries] val highTs = Timestamp.valueOf(high)

  /** Production dimension derived from `customer`. */
  def production(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
    val closedV1 = cust.filter(col("c_custkey") % 5 === 0).select(
      (col("c_custkey") * 2 - 1).cast("long").as("dim_id"),
      col("c_custkey"), col("c_name"),
      (col("c_acctbal") - 100).as("c_acctbal"), col("c_mktsegment"),
      lit(1).as("scd_version"),
      lit("2023-01-01 00:00:00").cast("timestamp").as("scd_start_date"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("scd_end_date"),
      lit(false).as("scd_active"))
    val active = cust.select(
      (col("c_custkey") * 2).cast("long").as("dim_id"),
      col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
      when(col("c_custkey") % 5 === 0, 2).otherwise(1).as("scd_version"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("scd_start_date"),
      lit(high).cast("timestamp").as("scd_end_date"),
      lit(true).as("scd_active"))
    closedV1.unionByName(active)
  }

  /** Staging snapshot derived from `customer`. */
  def staging(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .filter(col("c_custkey") % 7 =!= 0)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 4 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("c_name"),
        when(col("c_custkey") % 3 === 0, col("c_acctbal") + 50)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 6 === 0, lit("WHOLESALE"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))

  private[queries] val prodSql =
    """SELECT CAST(c_custkey*2-1 AS BIGINT) AS dim_id, c_custkey, c_name,
      |    c_acctbal - 100 AS c_acctbal, c_mktsegment, 1 AS scd_version,
      |    TIMESTAMP '2023-01-01 00:00:00' AS scd_start_date,
      |    TIMESTAMP '2024-01-01 00:00:00' AS scd_end_date, FALSE AS scd_active
      |  FROM customer WHERE c_custkey % 10 <> 0 AND c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT CAST(c_custkey*2 AS BIGINT), c_custkey, c_name, c_acctbal, c_mktsegment,
      |    CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE 1 END,
      |    TIMESTAMP '2024-01-01 00:00:00',
      |    TIMESTAMP '2200-01-01 00:00:00', TRUE
      |  FROM customer WHERE c_custkey % 10 <> 0""".stripMargin

  private[queries] val stagSql =
    """SELECT c_custkey,
      |    CASE WHEN c_custkey % 4 = 0 THEN upper(c_name) ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50 ELSE c_acctbal END AS c_acctbal,
      |    CASE WHEN c_custkey % 6 = 0 THEN 'WHOLESALE' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 7 <> 0""".stripMargin

  /** One SCD-2 merge as prefixed CTE text, for CHAINED replays (q141's
    * two-batch streaming ingest): the nullSafe/stable-key/carry-missing
    * variant of [[mergeSql]] with the production relation, staging
    * relation, and as-of timestamp parameterized, emitting
    * `${p}b1..${p}b6, ${p}unioned, ${p}maxid, ${p}out` — `${p}out` is
    * the merged dimension, usable as the next step's production.
    */
  private[queries] def mergeStepCtes(p: String, prodCte: String,
      stagCte: String, asOfSql: String): String = {
    val same =
      """p.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
        |    AND p.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment""".stripMargin
    val diff =
      """(p.c_acctbal IS DISTINCT FROM s.c_acctbal
        |    OR p.c_mktsegment IS DISTINCT FROM s.c_mktsegment)""".stripMargin
    val highSql = s"TIMESTAMP '$high'"
    s"""${p}b1 AS (
       |  SELECT p.* FROM $prodCte p
       |  WHERE NOT EXISTS (SELECT 1 FROM $stagCte s WHERE s.c_custkey = p.c_custkey)
       |), ${p}b2 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, p.scd_end_date, p.scd_active
       |  FROM $prodCte p JOIN $stagCte s ON p.c_custkey = s.c_custkey
       |  WHERE NOT p.scd_active
       |), ${p}b3 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, p.scd_end_date, p.scd_active
       |  FROM $prodCte p JOIN $stagCte s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $same
       |), ${p}b4 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, $asOfSql AS scd_end_date,
       |         FALSE AS scd_active
       |  FROM $prodCte p JOIN $stagCte s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $diff
       |), ${p}b5 AS (
       |  SELECT CAST(NULL AS BIGINT) AS dim_id, s.c_custkey, s.c_name,
       |         s.c_acctbal, s.c_mktsegment, p.scd_version + 1,
       |         $asOfSql, $highSql, TRUE
       |  FROM $prodCte p JOIN $stagCte s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $diff
       |), ${p}b6 AS (
       |  SELECT CAST(NULL AS BIGINT), s.c_custkey, s.c_name, s.c_acctbal,
       |         s.c_mktsegment, 1, $asOfSql, $highSql, TRUE
       |  FROM $stagCte s
       |  WHERE NOT EXISTS (SELECT 1 FROM $prodCte p WHERE p.c_custkey = s.c_custkey)
       |), ${p}unioned AS (
       |  SELECT * FROM ${p}b1 UNION ALL SELECT * FROM ${p}b2 UNION ALL
       |  SELECT * FROM ${p}b3 UNION ALL SELECT * FROM ${p}b4 UNION ALL
       |  SELECT * FROM ${p}b5 UNION ALL SELECT * FROM ${p}b6
       |), ${p}maxid AS (SELECT MAX(dim_id) AS m FROM $prodCte),
       |${p}out AS (
       |  SELECT CASE WHEN dim_id IS NULL
       |           THEN (SELECT m FROM ${p}maxid) + ROW_NUMBER() OVER (
       |                  PARTITION BY dim_id IS NULL
       |                  ORDER BY c_custkey, scd_version)
       |           ELSE dim_id END AS dim_id,
       |    c_custkey, c_name, c_acctbal, c_mktsegment, scd_version,
       |    scd_start_date, scd_end_date, scd_active
       |  FROM ${p}unioned)""".stripMargin
  }

  /** q176's oracle: DELETE then UPDATE through the SQL DML door. The
    * merge-on-read door (q197) must agree, so it declares this too.
    */
  private[queries] val dmlSql: String =
    """SELECT doc_id,
      |  CASE WHEN source = 'src5' THEN text || ' [redacted]'
      |       ELSE text END AS text,
      |  source
      |FROM documents
      |WHERE NOT (doc_id % 5 = 3)
      |ORDER BY doc_id""".stripMargin
}
