package graft.queries

import graft.functions.{KmvSketch, PortableHash}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The relational operator surface (SURVEY.md §2.1/§2.2) as named queries
  * over the driver testdata, each paired with ANSI SQL for the DuckDB
  * oracle.
  *
  * Float determinism: any SUM over a double column goes through
  * DECIMAL(18,x) so the aggregate is exact (order-independent) and
  * bit-identical between Spark and DuckDB; the final value is cast back to
  * double. Every query has a deterministic total ORDER BY.
  */
object CoreQueries extends QueryGroup {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O5/O6/O14 + aggregation surface: TPC-H Q1-shaped scan->filter->agg.
    // Filter + 4-column projection push to the parquet scan.
    "q01_agg" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(col("l_quantity")))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Sort + limit (top-k). Tie-broken on the key so the k-set is stable.
    "q02_topk" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // O11 inner equi-joins through a 3-table star; nation/region side is
    // tiny -> Catalyst broadcasts it.
    "q03_join_agg" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val nat = Tables(s, dir, "nation")
      val ord = Tables(s, dir, "orders")
      cust
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(ord, cust("c_custkey") === ord("o_custkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
        .orderBy(col("n_name"))
    }),

    // O9 left outer join preserving unmatched left rows (zero-order
    // customers), grouped back to one row per customer.
    "q04_left_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec2(col("o_totalprice"))).cast("double"), lit(0.0))
            .as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // O10: first-class anti join (the reference spells it
    // LEFT JOIN ... IS NULL at SCD_script.txt:8-12,121-137).
    "q05_anti_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
      cust
        .join(ord.filter(col("o_totalprice") > 400000),
          cust("c_custkey") === ord("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Semi join (EXISTS).
    "q06_semi_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // O21 generalized: partitioned ranking window (top-3 orders per
    // customer) — partitionBy keeps it shuffle-parallel, unlike the
    // reference's global ROW_NUMBER.
    "q07_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // Analytic windows: running sum (explicit ROWS frame) + lag.
    "q08_window_running" -> ((s, dir) => {
      // order on µs ticks: DuckDB truncates parquet ns timestamps to µs
      // on read, so ns ordering here could diverge from the oracle on
      // same-µs ties (event_id breaks µs ties identically on both sides)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts_us"))
        .withColumn("running_value",
          sum(dec6(col("value")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .drop("ts_us")
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Set operators: EXCEPT / INTERSECT (distinct semantics).
    "q09_set_ops" -> ((s, dir) => {
      val allC = Tables(s, dir, "customer").select(col("c_custkey"))
      val withO = Tables(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"))
      val no = allC.except(withO)
        .agg(count(lit(1)).as("n")).withColumn("label", lit("no_orders"))
      val wo = allC.intersect(withO)
        .agg(count(lit(1)).as("n")).withColumn("label", lit("with_orders"))
      no.unionByName(wo).select(col("label"), col("n")).orderBy(col("label"))
    }),

    // O15/O17/O18: null-safe equality (<=>) vs three-valued =, on
    // deterministically synthesized NULLs.
    "q10_nullsafe" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      def nullif(c: Column, v: String): Column =
        when(c === lit(v), lit(null).cast("string")).otherwise(c)
      val a = cust.select(col("c_custkey"),
        nullif(col("c_mktsegment"), "BUILDING").as("x"))
      val b = cust.select(col("c_custkey").as("ck"),
        nullif(col("c_mktsegment"), "AUTOMOBILE").as("y"))
      a.join(b, a("c_custkey") === b("ck"))
        .groupBy(
          when(col("x") <=> col("y"), lit("same")).otherwise(lit("diff"))
            .as("cls"),
          when(col("x") === col("y"), lit("eq"))
            .when(!(col("x") === col("y")), lit("ne"))
            .otherwise(lit("null")).as("cls_3vl"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("cls"), col("cls_3vl"))
    }),

    // Scalar-function surface: string/date/conditional expressions
    // (O8/O17/O19/O20/O24 generalized), all whole-stage-codegen'd.
    "q11_scalar_funcs" -> ((s, dir) => {
      Tables(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("days_since"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority"))
          .as("status_pri"),
        upper(substring(col("o_orderpriority"), 1, 8)).as("pri_prefix"),
        length(col("o_orderpriority")).as("pri_len"),
        coalesce(when(col("o_orderstatus") === lit("O"), lit(null).cast("string"))
          .otherwise(col("o_orderstatus")), lit("OPEN")).as("status2"),
        when(col("o_totalprice") > 200000, lit("big"))
          .when(col("o_totalprice") > 100000, lit("mid"))
          .otherwise(lit("small")).as("size_class")
      ).orderBy(col("o_orderkey"))
    }),

    // Sketch aggregates: PORTABLE distinct-count sketches (KMV bottom-k,
    // md5-derived hashes — mergeable fixed-size state, the same scale
    // shape as HLL) next to the exact count, plus the exact linear-
    // interpolation median. At 100 TB the sketches are the affordable
    // option for interactive cardinality work; unlike HLL++ the KMV
    // estimate is deterministic AND engine-portable, so the DuckDB
    // oracle replays it bit-for-bit. Spark's built-in HLL++/quantile
    // sketches (engine-specific estimators) stay covered by SketchSpec's
    // error-bound assertions against these exact values.
    "q29_sketches" -> ((s, dir) => {
      // the distinct aggregate is kept in its OWN aggregation joined on
      // the (3-value) group key: mixing countDistinct with the typed
      // KMV aggregators + percentile forces one expanded sort-aggregate
      // over every row (1.6x slower measured at sf0.1)
      val li = Tables(s, dir, "lineitem")
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      val sketched = li.groupBy(col("l_returnflag"))
        .agg(
          KmvSketch.kmvEstimate(
            PortableHash.hash60Base(col("l_orderkey").cast("string")), 64)
            .as("approx_orders"),
          KmvSketch.kmvEstimate(
            PortableHash.hash60Base(col("l_partkey").cast("string")), 64)
            .as("approx_parts"),
          expr("percentile(l_extendedprice, 0.5D)").as("median_price"))
      exact.join(sketched, "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"),
          col("approx_orders"), col("approx_parts"), col("median_price"))
        .orderBy(col("l_returnflag"))
    }),

    // Grouping sets: ROLLUP produces subtotal + grand-total rows (the
    // grouping columns go NULL on aggregate rows in both engines).
    "q32_rollup" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Pivot: one column per event_type. The Spark side uses the real
    // .pivot() API with explicit values; the oracle spells the same
    // result as conditional aggregation.
    "q33_pivot" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(dec6(col("value"))).cast("double"))
        .orderBy(col("user_id"))
    }),

    // DISTINCT aggregation (grouped count-distinct).
    "q12_distinct" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    })
  )

  /** Relational replay of the KMV bottom-k estimate (same arithmetic as
    * [[graft.functions.KmvSketch.finish]]) for one hashed key column,
    * grouped by l_returnflag — used twice by the q29 oracle.
    */
  private def kmvOverSql(keyExpr: String, k: Int, as: String): String =
    s"""(SELECT l_returnflag,
       |  CASE WHEN max(nd) < $k THEN CAST(max(nd) AS DOUBLE)
       |       ELSE ${k - 1}.0 * 1152921504606846976.0
       |            / CAST(max(CASE WHEN rn = $k THEN h END) AS DOUBLE)
       |  END AS $as
       | FROM (SELECT l_returnflag, h,
       |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
       |         COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
       |       FROM (SELECT DISTINCT l_returnflag,
       |               ${PortableHash.hash60BaseSql(keyExpr)} AS h
       |             FROM lineitem))
       | GROUP BY l_returnflag)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q29_sketches" ->
      s"""WITH eo AS ${kmvOverSql("l_orderkey::VARCHAR", 64, "approx_orders")},
         |ep AS ${kmvOverSql("l_partkey::VARCHAR", 64, "approx_parts")},
         |x AS (SELECT l_returnflag,
         |        COUNT(DISTINCT l_orderkey) AS exact_orders,
         |        quantile_cont(l_extendedprice, 0.5) AS median_price
         |      FROM lineitem GROUP BY l_returnflag)
         |SELECT x.l_returnflag, x.exact_orders, eo.approx_orders,
         |  ep.approx_parts, x.median_price
         |FROM x JOIN eo USING (l_returnflag) JOIN ep USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin,
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q03_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q04_left_join" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q07_window_topn" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q08_window_running" ->
      """SELECT user_id, event_id, event_type, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q09_set_ops" ->
      """SELECT 'no_orders' AS label, COUNT(*) AS n FROM
        |  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) t1
        |UNION ALL
        |SELECT 'with_orders' AS label, COUNT(*) AS n FROM
        |  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) t2
        |ORDER BY label""".stripMargin,
    "q10_nullsafe" ->
      """WITH a AS (SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS x FROM customer),
        |     b AS (SELECT c_custkey AS ck, NULLIF(c_mktsegment, 'AUTOMOBILE') AS y FROM customer)
        |SELECT
        |  CASE WHEN x IS NOT DISTINCT FROM y THEN 'same' ELSE 'diff' END AS cls,
        |  CASE WHEN x = y THEN 'eq' WHEN NOT (x = y) THEN 'ne' ELSE 'null' END AS cls_3vl,
        |  COUNT(*) AS n
        |FROM a JOIN b ON a.c_custkey = b.ck
        |GROUP BY 1, 2 ORDER BY cls, cls_3vl""".stripMargin,
    "q11_scalar_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS o_year,
        |  month(o_orderdate) AS o_month,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  o_orderstatus || '-' || o_orderpriority AS status_pri,
        |  upper(substring(o_orderpriority, 1, 8)) AS pri_prefix,
        |  length(o_orderpriority) AS pri_len,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status2,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS size_class
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q32_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q33_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q12_distinct" ->
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
