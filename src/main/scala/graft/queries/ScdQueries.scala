package graft.queries

import graft.queries.fixtures.Scd._
import graft.scd.{KeyMode, MergeOptions, ScdMerge}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's flagship capability — the SCD Type-1/Type-2 merge
  * (reference `SCD_script.txt:1-155`) — exercised on a dimension feed
  * derived deterministically from the `customer` testdata table
  * (SURVEY.md §5.3), plus the as-of join an SCD-2 dimension exists to
  * serve. The DuckDB oracle replays the same semantics as explicit
  * 6-branch SQL, so the single-pass full-outer-join engine is
  * cross-checked against the reference-shaped formulation.
  *
  * Feed design (all modular-arithmetic on `c_custkey`, so every branch
  * B1-B6 is populated at every scale factor):
  *  - production: customers with custkey%10<>0; custkey%5=0 members carry
  *    an extra closed v1 (acctbal-100) so history exists pre-merge.
  *  - staging: full snapshot minus custkey%7=0 (those become B1 carries);
  *    %3=0 changes acctbal (+50), %6=0 changes mktsegment (Type-2);
  *    %4=0 upper-cases the name (Type-1, rewrites history);
  *    %10=0 members are absent from production (B6 inserts).
  */
object ScdQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship: stable-key, null-safe SCD merge.
    "q13_scd_merge" -> ((s, dir) => {
      ScdMerge.merge(production(s, dir), staging(s, dir), schema,
        MergeOptions(asOf, highDate = highTs))
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // The same merge through the ANSI MERGE INTO front door: Spark's
    // parsed MergeIntoTable compiled onto the engine's one-join plan
    // (graft.scd.CatalogSql), with the SCD-2 prep relation (synthetic
    // reopen rows, precomputed surrogates/versions) generated by
    // MergeIntoScd. Same oracle as q13 — the door must reproduce the
    // 6-branch result hash-exactly.
    "q101_merge_into" -> ((s, dir) => {
      graft.scd.MergeIntoScd(s, production(s, dir), staging(s, dir),
        schema, "2024-07-01 00:00:00", high)
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // The 100 TB flagship layout: production AND staging live as tables
    // BUCKETED on the business key, so the full-outer merge join
    // consumes the co-located layout directly — ZERO join-key shuffle
    // of either side, regardless of dimension size (the only exchanges
    // left are increment-sized: max-surrogate + new-row ranking).
    // Same merge semantics and oracle as q13; the no-Exchange plan
    // property is asserted in ScaleLayoutSpec over this very query.
    "q89_scd_bucketed" -> ((s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (pT, sT) = (s"graft_q89_prod_$tag", s"graft_q89_stag_$tag")
      // write-once per session+scale. A FRESH JVM's in-memory catalog
      // forgets the table while its managed warehouse directory
      // survives, and saveAsTable refuses to create over an existing
      // location — so drop the stale path first (mode=overwrite does
      // NOT cover the table-unknown-but-location-exists case).
      def writeBucketed(name: String, df: DataFrame): Unit =
        if (!s.catalog.tableExists(name)) {
          val wh = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
          df.write.mode("overwrite")
            .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(name)
        }
      writeBucketed(pT, production(s, dir))
      writeBucketed(sT, staging(s, dir))
      ScdMerge.merge(s.table(pT), s.table(sT), schema,
        MergeOptions(asOf, highDate = highTs))
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // Delete detection: staging declared a FULL snapshot, so ACTIVE
    // members whose key vanished (custkey%7=0 here) are closed at asOf
    // instead of carried open forever — the reference pipeline's
    // documented blind spot (it has no delete branch, SURVEY §2.3(6)).
    // Oracle: the 6-branch SQL plus an explicit b1d delete branch.
    "q88_scd_delete" -> ((s, dir) => {
      ScdMerge.merge(production(s, dir), staging(s, dir), schema,
        MergeOptions(asOf, highDate = highTs, closeMissing = true))
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // Reference-shaped mode: three-valued change predicate + global
    // surrogate renumbering by start date (SCD_script.txt:143).
    "q14_scd_hivecompat" -> ((s, dir) => {
      ScdMerge.merge(production(s, dir), staging(s, dir), schema,
        MergeOptions(asOf, keyMode = KeyMode.HiveCompat,
          nullSafeCompare = false, highDate = highTs))
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // Native as-of join operator (custom LogicalPlan/Strategy/Exec,
    // graft.plans.AsOfJoin): latest dimension version with
    // vstart <= o_orderdate per customer; 1992 orders predate version 1
    // and exercise the outer-null path. Oracle: DuckDB's built-in
    // ASOF LEFT JOIN.
    "q30_asof_native" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      // o_orderdate infers as TIMESTAMP_NTZ from the parquet footer
      // (Spark 4 inferTimestampNTZ); the version starts must match — the
      // native operator validates instead of silently comparing raw
      // micros across timestamp kinds
      def ver(n: Int, delta: Double, start: String) = cust.select(
        col("c_custkey").as("d_custkey"),
        (col("c_acctbal") + delta).as("acctbal_v"),
        lit(n).as("version_no"),
        lit(start).cast("timestamp_ntz").as("vstart"))
      val dim = ver(1, -200, "1993-01-01 00:00:00")
        .unionByName(ver(2, -100, "1995-01-01 00:00:00"))
        .unionByName(ver(3, 0, "1997-01-01 00:00:00"))
      val facts = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      graft.plans.AsOfJoin.backward(facts, dim,
          Seq(facts("o_custkey")), Seq(dim("d_custkey")),
          facts("o_orderdate"), dim("vstart"))
        .select(col("o_orderkey"), col("o_custkey"), col("version_no"),
          col("acctbal_v"))
        .orderBy(col("o_orderkey"))
    }),

    // CDC from snapshots: staging-vs-production diff as a change feed
    // (insert/update/delete), one full-outer join.
    "q62_snapshot_diff" -> ((s, dir) => {
      val prev = Tables(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val next = staging(s, dir)
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      graft.scd.SnapshotDiff.diff(prev, next, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),

    // SCD Type 3: one generation of history in prev_<col> columns,
    // in-place update, single full-outer-join plan (ScdVariants).
    "q48_scd_type3" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer").filter(col("c_custkey") % 10 =!= 0)
      val prod3 = cust.select(
        col("c_custkey"),
        col("c_acctbal"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") - 100)
          .as("prev_c_acctbal"),
        col("c_mktsegment"),
        lit(null).cast("string").as("prev_c_mktsegment"))
      graft.scd.ScdVariants.mergeType3(prod3, staging(s, dir),
          Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // SCD Type 4: current table (active rows only) + append-only history
    // increment (rows closed by THIS run), split from one merge plan.
    "q49_scd_type4" -> ((s, dir) => {
      // labeled = both sides from ONE merge execution (the union of the
      // current/historyAppend filters would run the merge join twice)
      val r = graft.scd.ScdVariants.mergeType4(production(s, dir),
        staging(s, dir), schema, MergeOptions(asOf, highDate = highTs))
      r.labeled
        .orderBy(col("side"), col("c_custkey"), col("scd_version"))
    }),

    // SCD Type 6 (hybrid 1+2+3): full Type-2 history plus cur_<col>
    // columns carrying the member's CURRENT value on every historical
    // row — one merge pass + one key-partitioned propagation window.
    "q78_scd_type6" -> ((s, dir) => {
      graft.scd.ScdVariants.mergeType6(production(s, dir), staging(s, dir),
          schema, MergeOptions(asOf, highDate = highTs))
        .orderBy(col("c_custkey"), col("scd_version"))
    }),

    // Forward as-of: each order resolved to the EARLIEST dimension
    // version at or after the order date (orders after the last version
    // start take the outer-null path).
    "q58_asof_forward" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      def ver(n: Int, delta: Double, start: String) = cust.select(
        col("c_custkey").as("d_custkey"),
        (col("c_acctbal") + delta).as("acctbal_v"),
        lit(n).as("version_no"),
        lit(start).cast("timestamp_ntz").as("vstart"))
      val dim = ver(1, -200, "1993-01-01 00:00:00")
        .unionByName(ver(2, -100, "1995-01-01 00:00:00"))
        .unionByName(ver(3, 0, "1997-01-01 00:00:00"))
      val facts = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      graft.plans.AsOfJoin.forward(facts, dim,
          Seq(facts("o_custkey")), Seq(dim("d_custkey")),
          facts("o_orderdate"), dim("vstart"))
        .select(col("o_orderkey"), col("o_custkey"), col("version_no"),
          col("acctbal_v"))
        .orderBy(col("o_orderkey"))
    }),

    // As-of join: each order resolved against the dimension version valid
    // at o_orderdate (intervals chosen inside the order-date range).
    // Equi-join on the business key carries the shuffle; the interval
    // predicate is a post-join filter — at scale this stays a single
    // key-partitioned sort-merge join, no cross product.
    "q15_asof_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val split = lit("1995-06-01 00:00:00").cast("timestamp")
      val dim = cust.select(col("c_custkey").as("d_custkey"),
          (col("c_acctbal") - 100).as("acctbal_then"),
          lit(1).as("dim_version"),
          lit("1970-01-01 00:00:00").cast("timestamp").as("vs"),
          split.as("ve"))
        .unionByName(cust.select(col("c_custkey").as("d_custkey"),
          col("c_acctbal").as("acctbal_then"),
          lit(2).as("dim_version"),
          split.as("vs"),
          lit(high).cast("timestamp").as("ve")))
      Tables(s, dir, "orders")
        .join(dim, col("o_custkey") === col("d_custkey") &&
          col("o_orderdate") >= col("vs") && col("o_orderdate") < col("ve"))
        .select(col("o_orderkey"), col("o_custkey"), col("dim_version"),
          col("acctbal_then"))
        .orderBy(col("o_orderkey"))
    })
  )

  /** 6-branch oracle (B1-B6 of SURVEY.md §2.3(1)). `nullSafe=true` uses
    * IS [NOT] DISTINCT FROM = the engine's default; `nullSafe=false` uses
    * plain =/<> — the reference's three-valued predicates, whose NULL
    * "black hole" (a NULL in any Type-2 column drops the row from every
    * branch) is thereby reproduced in the oracle itself, matching the
    * engine's `nullSafeCompare=false` compat mode (q14).
    */
  private def mergeSql(renumber: Boolean, nullSafe: Boolean = true,
      closeMissing: Boolean = false): String = {
    val same =
      if (nullSafe)
        """p.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
          |    AND p.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment""".stripMargin
      else
        """p.c_acctbal = s.c_acctbal
          |    AND p.c_mktsegment = s.c_mktsegment""".stripMargin
    val diff =
      if (nullSafe)
        """(p.c_acctbal IS DISTINCT FROM s.c_acctbal
          |    OR p.c_mktsegment IS DISTINCT FROM s.c_mktsegment)""".stripMargin
      else
        """(p.c_acctbal <> s.c_acctbal
          |    OR p.c_mktsegment <> s.c_mktsegment)""".stripMargin
    val asOfSql = "TIMESTAMP '2024-07-01 00:00:00'"
    val highSql = s"TIMESTAMP '$high'"
    val dimId =
      if (renumber)
        """ROW_NUMBER() OVER (ORDER BY scd_start_date, c_custkey, scd_version) AS dim_id"""
      else
        """CASE WHEN dim_id IS NULL
          |      THEN (SELECT m FROM maxid) + ROW_NUMBER() OVER (
          |             PARTITION BY dim_id IS NULL ORDER BY c_custkey, scd_version)
          |      ELSE dim_id END AS dim_id""".stripMargin
    s"""WITH prod AS (
       |  $prodSql
       |), stag AS (
       |  $stagSql
       |), b1 AS (
       |  SELECT p.* FROM prod p
       |  WHERE NOT EXISTS (SELECT 1 FROM stag s WHERE s.c_custkey = p.c_custkey)
       |${if (closeMissing)
           s"""    AND NOT p.scd_active
              |), b1d AS (
              |  SELECT p.dim_id, p.c_custkey, p.c_name, p.c_acctbal,
              |         p.c_mktsegment, p.scd_version, p.scd_start_date,
              |         $asOfSql AS scd_end_date, FALSE AS scd_active
              |  FROM prod p
              |  WHERE NOT EXISTS (SELECT 1 FROM stag s WHERE s.c_custkey = p.c_custkey)
              |    AND p.scd_active""".stripMargin
         else ""}
       |), b2 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, p.scd_end_date, p.scd_active
       |  FROM prod p JOIN stag s ON p.c_custkey = s.c_custkey
       |  WHERE NOT p.scd_active
       |), b3 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, p.scd_end_date, p.scd_active
       |  FROM prod p JOIN stag s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $same
       |), b4 AS (
       |  SELECT p.dim_id, p.c_custkey, s.c_name, p.c_acctbal, p.c_mktsegment,
       |         p.scd_version, p.scd_start_date, $asOfSql AS scd_end_date,
       |         FALSE AS scd_active
       |  FROM prod p JOIN stag s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $diff
       |), b5 AS (
       |  SELECT CAST(NULL AS BIGINT) AS dim_id, s.c_custkey, s.c_name,
       |         s.c_acctbal, s.c_mktsegment, p.scd_version + 1,
       |         $asOfSql, $highSql, TRUE
       |  FROM prod p JOIN stag s ON p.c_custkey = s.c_custkey
       |  WHERE p.scd_active AND $diff
       |), b6 AS (
       |  SELECT CAST(NULL AS BIGINT), s.c_custkey, s.c_name, s.c_acctbal,
       |         s.c_mktsegment, 1, $asOfSql, $highSql, TRUE
       |  FROM stag s
       |  WHERE NOT EXISTS (SELECT 1 FROM prod p WHERE p.c_custkey = s.c_custkey)
       |), unioned AS (
       |  SELECT * FROM b1 UNION ALL ${if (closeMissing) "SELECT * FROM b1d UNION ALL" else ""}
       |  SELECT * FROM b2 UNION ALL
       |  SELECT * FROM b3 UNION ALL SELECT * FROM b4 UNION ALL
       |  SELECT * FROM b5 UNION ALL SELECT * FROM b6
       |), maxid AS (SELECT MAX(dim_id) AS m FROM prod)
       |SELECT $dimId,
       |  c_custkey, c_name, c_acctbal, c_mktsegment, scd_version,
       |  scd_start_date, scd_end_date, scd_active
       |FROM unioned
       |ORDER BY c_custkey, scd_version""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q13_scd_merge" -> mergeSql(renumber = false),
    "q14_scd_hivecompat" -> mergeSql(renumber = true, nullSafe = false),
    "q88_scd_delete" -> mergeSql(renumber = false, closeMissing = true),
    "q89_scd_bucketed" -> mergeSql(renumber = false),
    "q101_merge_into" -> mergeSql(renumber = false),
    "q62_snapshot_diff" ->
      s"""WITH prev AS (
         |  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
         |  WHERE c_custkey % 10 <> 0
         |), nxt AS (
         |  SELECT c_custkey, c_acctbal, c_mktsegment FROM ($stagSql) s0
         |)
         |SELECT
         |  CASE WHEN p.c_custkey IS NULL THEN 'insert'
         |       WHEN n.c_custkey IS NULL THEN 'delete'
         |       ELSE 'update' END AS op,
         |  COALESCE(p.c_custkey, n.c_custkey) AS c_custkey,
         |  CASE WHEN n.c_custkey IS NULL THEN p.c_acctbal
         |       ELSE n.c_acctbal END AS c_acctbal,
         |  CASE WHEN n.c_custkey IS NULL THEN p.c_mktsegment
         |       ELSE n.c_mktsegment END AS c_mktsegment
         |FROM prev p FULL OUTER JOIN nxt n ON p.c_custkey = n.c_custkey
         |WHERE p.c_custkey IS NULL OR n.c_custkey IS NULL
         |   OR p.c_acctbal IS DISTINCT FROM n.c_acctbal
         |   OR p.c_mktsegment IS DISTINCT FROM n.c_mktsegment
         |ORDER BY c_custkey""".stripMargin,
    "q48_scd_type3" ->
      s"""WITH prod AS (
         |  SELECT c_custkey, c_acctbal,
         |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal - 100 END AS prev_c_acctbal,
         |    c_mktsegment, CAST(NULL AS VARCHAR) AS prev_c_mktsegment
         |  FROM customer WHERE c_custkey % 10 <> 0
         |), stag AS (
         |  $stagSql
         |)
         |SELECT
         |  COALESCE(p.c_custkey, s.c_custkey) AS c_custkey,
         |  CASE WHEN s.c_custkey IS NULL THEN p.c_acctbal
         |       ELSE s.c_acctbal END AS c_acctbal,
         |  CASE WHEN s.c_custkey IS NULL OR p.c_custkey IS NULL
         |         THEN p.prev_c_acctbal
         |       WHEN p.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
         |         THEN p.prev_c_acctbal
         |       ELSE p.c_acctbal END AS prev_c_acctbal,
         |  CASE WHEN s.c_custkey IS NULL THEN p.c_mktsegment
         |       ELSE s.c_mktsegment END AS c_mktsegment,
         |  CASE WHEN s.c_custkey IS NULL OR p.c_custkey IS NULL
         |         THEN p.prev_c_mktsegment
         |       WHEN p.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
         |         THEN p.prev_c_mktsegment
         |       ELSE p.c_mktsegment END AS prev_c_mktsegment
         |FROM prod p FULL OUTER JOIN stag s ON p.c_custkey = s.c_custkey
         |ORDER BY c_custkey""".stripMargin,
    "q49_scd_type4" ->
      s"""WITH m AS (
         |${mergeSql(renumber = false)}
         |)
         |SELECT 'current' AS side, * FROM m WHERE scd_active
         |UNION ALL
         |SELECT 'closed' AS side, * FROM m
         |WHERE NOT scd_active AND scd_end_date = TIMESTAMP '2024-07-01 00:00:00'
         |ORDER BY side, c_custkey, scd_version""".stripMargin,
    "q78_scd_type6" ->
      s"""WITH m AS (
         |${mergeSql(renumber = false)}
         |)
         |SELECT m.*,
         |  max(CASE WHEN scd_active THEN c_acctbal END)
         |    OVER (PARTITION BY c_custkey) AS cur_c_acctbal,
         |  max(CASE WHEN scd_active THEN c_mktsegment END)
         |    OVER (PARTITION BY c_custkey) AS cur_c_mktsegment
         |FROM m ORDER BY c_custkey, scd_version""".stripMargin,
    "q58_asof_forward" ->
      """WITH dimv AS (
        |  SELECT c_custkey AS d_custkey, c_acctbal - 200 AS acctbal_v,
        |    1 AS version_no, TIMESTAMP '1993-01-01 00:00:00' AS vstart
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal - 100, 2, TIMESTAMP '1995-01-01 00:00:00'
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, 3, TIMESTAMP '1997-01-01 00:00:00'
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, version_no, acctbal_v
        |FROM orders o ASOF LEFT JOIN dimv v
        |  ON o.o_custkey = v.d_custkey AND o.o_orderdate <= v.vstart
        |ORDER BY o_orderkey""".stripMargin,
    "q30_asof_native" ->
      """WITH dimv AS (
        |  SELECT c_custkey AS d_custkey, c_acctbal - 200 AS acctbal_v,
        |    1 AS version_no, TIMESTAMP '1993-01-01 00:00:00' AS vstart
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal - 100, 2, TIMESTAMP '1995-01-01 00:00:00'
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, 3, TIMESTAMP '1997-01-01 00:00:00'
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, version_no, acctbal_v
        |FROM orders o ASOF LEFT JOIN dimv v
        |  ON o.o_custkey = v.d_custkey AND o.o_orderdate >= v.vstart
        |ORDER BY o_orderkey""".stripMargin,
    "q15_asof_join" ->
      """WITH dim AS (
        |  SELECT c_custkey AS d_custkey, c_acctbal - 100 AS acctbal_then,
        |    1 AS dim_version, TIMESTAMP '1970-01-01 00:00:00' AS vs,
        |    TIMESTAMP '1995-06-01 00:00:00' AS ve
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, 2, TIMESTAMP '1995-06-01 00:00:00',
        |    TIMESTAMP '9999-12-31 23:59:59'
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, dim_version, acctbal_then
        |FROM orders JOIN dim ON o_custkey = d_custkey
        |  AND o_orderdate >= vs AND o_orderdate < ve
        |ORDER BY o_orderkey""".stripMargin
  )
}
