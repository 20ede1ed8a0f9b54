package graft.queries

import graft.functions.{KmvSketch, PortableHash, TextHash}
import graft.queries.fixtures.Vectors._
import graft.similarity.Similarity
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 coverage widening: the checklist categories that were thin in
  * round 1, each as an oracle-checked query — CUBE grouping sets,
  * multiset set-ops (EXCEPT/INTERSECT ALL), a typed-Aggregator UDAF
  * (portable KMV distinct sketch), rolling-hash fingerprints, BPE-ish
  * regex tokenization, RANGE window frames, exact percentiles, and the
  * oracle-portable LSH ANN.
  */
object ExtendedQueries extends QueryGroup {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** GPT-2-flavored pre-tokenizer classes, reduced to a regex dialect
    * that Java regex and RE2 interpret identically: letter runs, single
    * digits, single non-alphanumeric-non-space marks. Whitespace is the
    * explicit class [ \t\n\x0B\f\r], NOT \s — Java's \s includes
    * vertical tab \x0B but RE2's does not, so the shorthand would count
    * a \x0B as a mark in DuckDB and not in Spark.
    */
  private val BpeWord = "[A-Za-z]+"
  private val BpeDigit = "[0-9]"
  private val BpeOther = "[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"
  private val BpeAll = s"$BpeWord|$BpeDigit|$BpeOther"

  private val IvfProbe = 4

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full grouping-set lattice (CUBE) — q32's ROLLUP completes to the
    // whole powerset; partial aggregation still combines map-side.
    "q34_cube" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          // grouping indicators disambiguate subtotal rows from genuine
          // NULL group keys
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Multiset set operators: EXCEPT ALL / INTERSECT ALL between two
    // event segments, folded to per-type multiplicities.
    "q35_setops_all" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val a = ev.filter(col("user_id") % 2 === 0).select(col("event_type"))
      val b = ev.filter(col("user_id") % 3 === 0).select(col("event_type"))
      val ex = a.exceptAll(b).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.unionByName(in)
        .select(col("op"), col("event_type"), col("n"))
        .orderBy(col("op"), col("event_type"))
    }),

    // Typed-Aggregator UDAF: portable KMV distinct-count sketch vs the
    // exact count (the sketch estimate is deterministic, so it is
    // hash-checked — q29's HLL/quantile sketches stay rows-only).
    "q36_kmv" -> ((s, dir) => {
      val h = PortableHash.hash60Base(col("user_id").cast("string"))
      Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(KmvSketch.kmvEstimate(h, 64).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type"))
    }),

    // Rolling-hash document fingerprint (codepoint polynomial, native
    // codegen expression) — the streaming-friendly content fingerprint.
    "q37_rolling_fp" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextHash.rollingFingerprint(col("text")).as("rfp"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish regex pre-tokenization counts (word runs / digits / marks).
    "q38_bpe_tokens" -> ((s, dir) => {
      val t = col("text")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(t, lit(BpeAll)).as("n_bpe"),
          regexp_count(t, lit(BpeWord)).as("n_word"),
          regexp_count(t, lit(BpeDigit)).as("n_digit"),
          regexp_count(t, lit(BpeOther)).as("n_other"))
        .orderBy(col("doc_id"))
    }),

    // RANGE window frame: trailing 1-hour per-user activity at every
    // event (value-based frame, not row-based).
    "q39_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc)
        .rangeBetween(-3600000000L, 0L)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("hr_value",
          sum(dec6(col("value"))).over(w).cast("double"))
        .withColumn("hr_events", count(lit(1)).over(w))
        .drop("ts_us", "value")
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Exact linear-interpolation percentiles (Spark `percentile` ==
    // DuckDB `quantile_cont`: both evaluate rank p*(n-1) on the sorted
    // values with the same interpolation arithmetic). One array-typed
    // percentile buffer per group, flattened to scalar columns at the
    // end — the driver's pandas compare cannot hash array cells.
    "q40_percentile" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
            .as("price_q"),
          expr("percentile(l_quantity, 0.5D)").as("qty_med"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          get(col("price_q"), lit(0)).as("p25"),
          get(col("price_q"), lit(1)).as("p50"),
          get(col("price_q"), lit(2)).as("p75"),
          col("qty_med"), col("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Oracle-portable LSH ANN: ±1 md5-derived hyperplanes, bucket
    // equi-join candidates, exact cosine re-rank — the hash-checked
    // sibling of the dense-plane q27 path.
    "q41_ann_portable" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.portableAnnTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 10, bits = AnnBits)
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF ANN with the PORTABLE quantizer: Lloyd k-means trained on
    // int8-quantized vectors with exact integer-sum centroid updates,
    // so the md5-seeded init, both training iterations, the bucket
    // assignment, the nProbe-cluster candidates AND the exact cosine
    // re-rank all replay bit-identically in the DuckDB oracle (the
    // training is a chain of CTEs — centroids are relations, not
    // engine state). Recall vs brute force stays asserted in IvfSpec.
    "q42_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopKPortable(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 10, c = IvfC, nProbe = IvfProbe,
        iters = IvfIters)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Nested/complex types: per-customer order-total arrays (sorted, so
    // order-independent under shuffle), array ops (slice/get/element_at/
    // exists), struct construction — all intermediate; the final SELECT
    // flattens to scalars because the driver's pandas compare cannot
    // hash array/struct cells. `get` (0-based) is the null-safe probe
    // for customers with <3 orders (ANSI element_at would throw).
    "q43_nested" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          array_sort(collect_list(col("o_totalprice"))).as("totals"))
        .select(col("o_custkey"), col("n_orders"),
          slice(col("totals"), 1, 3).as("low3"),
          element_at(col("totals"), -1).as("biggest"),
          exists(col("totals"), _ > 300000.0).as("has_big"),
          struct(
            element_at(col("totals"), 1).as("lo"),
            element_at(col("totals"), -1).as("hi")).as("range"))
        .select(col("o_custkey"), col("n_orders"),
          get(col("low3"), lit(0)).as("lo3_1"),
          get(col("low3"), lit(1)).as("lo3_2"),
          get(col("low3"), lit(2)).as("lo3_3"),
          col("biggest"), col("has_big"),
          col("range.lo").as("range_lo"),
          col("range.hi").as("range_hi"))
        .orderBy(col("o_custkey"))
    }),

    // Schema-drift union: two relations with partially overlapping
    // columns unioned BY NAME, absent columns null-filled — the shape of
    // ingesting evolving upstream feeds.
    "q60_union_by_name" -> ((s, dir) => {
      val ord = Tables(s, dir, "orders")
      val a = ord.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val b = ord.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    }),

    // Data-quality expectations: per-rule violation counts over lineitem
    // (constraint checking as one aggregate per rule — dbt-test/Deequ
    // shape; zero-violation rules still report).
    "q59_dq_report" -> ((s, dir) => {
      import graft.quality.Quality._
      val li = Tables(s, dir, "lineitem")
      report(li, Seq(
        NotNull("l_orderkey"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        InRange("l_discount", 0.0, 0.1),
        RefIntegrity("l_orderkey", Tables(s, dir, "orders"), "o_orderkey"),
        Custom("nonpositive_quantity", col("l_quantity") <= 0)))
        .orderBy(col("rule"))
    }),

    // Histogram: fixed-width value bucketing + per-bucket stats (the
    // scan-once shape of a distributed histogram).
    "q53_histogram" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .withColumn("bucket",
          floor(col("o_totalprice") / 25000.0).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("bucket"))
    }),

    // Deterministic hash sampling: a 10% Bernoulli sample keyed on
    // md5(o_orderkey) — reproducible across engines, runs and cluster
    // sizes (unlike TABLESAMPLE/rand), and stable under repartitioning;
    // the at-scale way to sample consistently in a pipeline.
    "q54_sample" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .filter(PortableHash.hash60Base(col("o_orderkey").cast("string"))
          % 100 < 10)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // Analytic window family: ntile, percent_rank, cume_dist, first_value
    // (deterministic under the unique (price desc, key) order).
    "q50_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("ntile4", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("top_key", first(col("o_orderkey")).over(w))
        .orderBy(col("o_orderkey"))
    }),

    // String function surface beyond q11: regex group extraction,
    // splitting, translate, padding, reversal, position, repetition.
    "q51_strings" -> ((s, dir) => {
      val pri = col("o_orderpriority")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          regexp_extract(pri, "([0-9])-(.*)", 2).as("pri_word"),
          element_at(split(pri, "-"), 1).as("pri_num"),
          translate(col("o_orderstatus"), "OFP", "ofp").as("status_lc"),
          lpad(col("o_orderkey").cast("string"), 12, "0").as("key_padded"),
          reverse(pri).as("pri_rev"),
          instr(pri, "-").as("dash_at"),
          repeat(col("o_orderstatus"), 3).as("status3"),
          concat_ws("|", col("o_orderstatus"), pri).as("joined"))
        .orderBy(col("o_orderkey"))
    }),

    // TPC-H Q5-shaped 6-table join tree: two big fact/dim joins carry the
    // shuffles, region/nation/supplier broadcast, date filter pushed to
    // the orders scan, decimal-exact revenue.
    "q47_star_join" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      val ord = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1994-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
      val li = Tables(s, dir, "lineitem")
      val supp = Tables(s, dir, "supplier")
      val nat = Tables(s, dir, "nation")
      val reg = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // SQL front door + subquery surface: the SAME ANSI text runs through
    // spark.sql here and through DuckDB as its own oracle — correlated
    // EXISTS / NOT EXISTS (planned as semi/anti joins) and a correlated
    // scalar subquery (planned as an aggregate + outer join).
    "q45_subqueries" -> ((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer")
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(SubqueriesSql)
    }),

    // Date/time function surface: truncation, field extraction, interval
    // arithmetic — beyond q11's year/month/diff.
    "q44_datetime" -> ((s, dir) => {
      val d = col("o_orderdate")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          date_trunc("quarter", d).cast("date").as("qtr"),
          date_trunc("week", d).cast("date").as("wk"),
          dayofweek(d).as("dow"),
          dayofyear(d).as("doy"),
          last_day(d).as("month_end"),
          add_months(d, 3).cast("date").as("plus3m"),
          (d + expr("INTERVAL 45 DAYS")).cast("date").as("plus45d"))
        .orderBy(col("o_orderkey"))
    })
  )

  /** One ANSI text, two engines (q45). */
  private val SubqueriesSql =
    """SELECT c.c_custkey, c.c_name,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 250000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F')
      |ORDER BY c.c_custkey""".stripMargin

  // ---- oracle SQL ----------------------------------------------------

  val oracleSql: Map[String, String] = Map(
    "q34_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q35_setops_all" ->
      """WITH a AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
        |b AS (SELECT event_type FROM events WHERE user_id % 3 = 0),
        |ex AS (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b),
        |inr AS (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b)
        |SELECT 'except_all' AS op, event_type, COUNT(*) AS n FROM ex GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all' AS op, event_type, COUNT(*) AS n FROM inr GROUP BY 2
        |ORDER BY op, event_type""".stripMargin,
    "q36_kmv" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${PortableHash.hash60BaseSql("user_id::VARCHAR")} AS h FROM events),
         |r AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
         |  FROM events GROUP BY event_type)
         |SELECT r.event_type,
         |  CASE WHEN max(r.nd) < 64 THEN CAST(max(r.nd) AS DOUBLE)
         |       ELSE 63.0 * 1152921504606846976.0
         |            / CAST(max(CASE WHEN r.rn = 64 THEN r.h END) AS DOUBLE)
         |  END AS approx_users,
         |  CAST(max(x.exact_users) AS BIGINT) AS exact_users
         |FROM r JOIN x ON x.event_type = r.event_type
         |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin,
    "q37_rolling_fp" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE
        |    list_reduce(list_transform(range(1, length(text)+1),
        |                               i -> unicode(text[i])::BIGINT),
        |                (a,b) -> (a*257 + b) % 2147483647) END AS rfp,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q38_bpe_tokens" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '$BpeAll')) AS n_bpe,
         |  len(regexp_extract_all(text, '$BpeWord')) AS n_word,
         |  len(regexp_extract_all(text, '$BpeDigit')) AS n_digit,
         |  len(regexp_extract_all(text, '$BpeOther')) AS n_other
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q39_window_range" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS hr_value,
        |  COUNT(*) OVER w AS hr_events
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q40_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.50) AS p50,
        |  quantile_cont(l_extendedprice, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.5) AS qty_med,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q45_subqueries" -> SubqueriesSql,
    "q60_union_by_name" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q59_dq_report" ->
      """SELECT rule, n_violations FROM (
        |  SELECT 'not_null(l_orderkey)' AS rule,
        |    COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_discount,0.0,0.1)',
        |    COUNT(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'ref_integrity(l_orderkey)', COUNT(*)
        |  FROM lineitem l
        |  WHERE l.l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'nonpositive_quantity',
        |    COUNT(CASE WHEN l_quantity <= 0 THEN 1 END)
        |  FROM lineitem) t
        |ORDER BY rule""".stripMargin,
    "q53_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q54_sample" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders
         |WHERE ${PortableHash.hash60BaseSql("o_orderkey::VARCHAR")} % 100 < 10
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q50_window_analytics" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  ntile(4) OVER w AS ntile4,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER w AS top_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,
    "q51_strings" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '([0-9])-(.*)', 2) AS pri_word,
        |  split_part(o_orderpriority, '-', 1) AS pri_num,
        |  translate(o_orderstatus, 'OFP', 'ofp') AS status_lc,
        |  lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
        |  reverse(o_orderpriority) AS pri_rev,
        |  strpos(o_orderpriority, '-') AS dash_at,
        |  repeat(o_orderstatus, 3) AS status3,
        |  concat_ws('|', o_orderstatus, o_orderpriority) AS joined
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q47_star_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q43_nested" ->
      """WITH t AS (SELECT o_custkey, COUNT(*) AS n_orders,
        |  list_sort(list(o_totalprice)) AS totals
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, n_orders,
        |  totals[1] AS lo3_1,
        |  totals[2] AS lo3_2,
        |  totals[3] AS lo3_3,
        |  totals[-1] AS biggest,
        |  len(list_filter(totals, x -> x > 300000.0)) > 0 AS has_big,
        |  totals[1] AS range_lo,
        |  totals[-1] AS range_hi
        |FROM t ORDER BY o_custkey""".stripMargin,
    "q44_datetime" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
        |  CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  dayofyear(o_orderdate) AS doy,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q42_ann_ivf" ->
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |qz AS (SELECT vec_id, e,
         |    list_transform(e, x -> round(x * 127.0 / mab)) AS qd
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS mab FROM emb)
         |  WHERE mab > 0),
         |c0 AS (SELECT cluster, cent FROM (
         |  SELECT qd AS cent,
         |    ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster
         |  FROM (SELECT vec_id, qd,
         |          ${PortableHash.hash60BaseSql("vec_id::VARCHAR")} AS h
         |        FROM qz))
         |  WHERE cluster < $IvfC),
         |${(1 to IvfIters).map(ivfStepSql).mkString(",\n")},
         |cb AS (SELECT vec_id, e, cluster AS bucket FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c$IvfIters c) WHERE rn = 1),
         |qb AS (SELECT vec_id AS q_id, e AS qe, cluster AS bucket FROM (
         |  SELECT z.vec_id, z.e, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY z.vec_id
         |      ORDER BY ${distSql("z.qd", "c.cent")} ASC, c.cluster ASC) AS rn
         |  FROM qz z CROSS JOIN c$IvfIters c WHERE z.vec_id < 50)
         |  WHERE rn <= $IvfProbe),
         |cos AS (SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")}
         |      / sqrt(${dotSql("q.qe", "q.qe")} * ${dotSql("c.e", "c.e")}) AS cosine
         |  FROM qb q JOIN cb c ON c.bucket = q.bucket AND c.vec_id <> q.q_id)
         |SELECT q_id, n_id, cosine, rank FROM (
         |  SELECT q_id, n_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM cos) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q41_ann_portable" ->
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |b AS (SELECT vec_id, e,
         |  ${annPlanes.zipWithIndex.map { case (pl, p) =>
             s"(CASE WHEN ${dotSql("e", planeListSql(pl))} > 0 THEN ${1L << p} ELSE 0 END)"
           }.mkString("\n  + ")} AS bucket,
         |  ${dotSql("e", "e")} AS nrm
         |  FROM emb),
         |q AS (SELECT vec_id AS q_id, e AS qe, bucket, nrm AS nq FROM b WHERE vec_id < 50),
         |cos AS (
         |  SELECT q.q_id, c.vec_id AS n_id,
         |    ${dotSql("q.qe", "c.e")} / sqrt(q.nq * c.nrm) AS cosine
         |  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.q_id)
         |SELECT q_id, n_id, cosine, rank FROM (
         |  SELECT q_id, n_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank
         |  FROM cos) t
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  )
}
