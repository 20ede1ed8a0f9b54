package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-3 widening, second batch: argmin/argmax aggregates,
  * IGNORE NULLS across the window navigation family, native recursive
  * CTE execution (Spark 4 UnionLoop — one ANSI text through both
  * engines), and the mergeable-sketch rollup algebra (partial KMV
  * sketches merged upward — the pre-aggregated-rollup shape a 100 TB
  * pipeline uses to avoid re-scanning raw data).
  */
object Round3bQueries extends QueryGroup {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Deterministic total order for argmin/argmax: price in exact cents
    * (no double ties at the low bits) scaled past the key range, plus
    * the key as tiebreak — identical arithmetic in both engines.
    */
  private def ordv(price: Column, key: Column): Column =
    (dec2(price) * 100).cast("long") * lit(10000000000L) + key

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // max_by / min_by (argmax/argmin) with a composite deterministic
    // ordering value — one hash-aggregate, map-side combinable.
    "q74_argminmax" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val v = ordv(col("o_totalprice"), col("o_orderkey"))
      o.groupBy(col("o_orderpriority"))
        .agg(
          max_by(col("o_orderkey"), v).as("best_key"),
          min_by(col("o_orderkey"), v).as("worst_key"),
          (max((dec2(col("o_totalprice")) * 100).cast("long")) / 100.0)
            .as("best_total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // Window navigation with IGNORE NULLS: lag / lead / first_value /
    // nth_value skipping planted nulls, per-user event ordering with an
    // event_id tiebreak. Values pass through un-arithmetic'd, so the
    // doubles hash bit-exactly.
    "q75_ignore_nulls" -> ((s, dir) => {
      val ev = Tables(s, dir, "events").filter(col("user_id") < 8)
        .withColumn("v",
          when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      ev.select(col("user_id"), col("ts_us"), col("event_id"), col("v"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
          lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_v"),
          first(col("v"), ignoreNulls = true).over(w).as("first_v"),
          nth_value(col("v"), 2, ignoreNulls = true).over(wf).as("second_v"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // Mergeable-sketch rollup: raw events are aggregated ONCE into
    // per-(type, day) partial KMV sketches (the persistable fine grain),
    // which are then merged upward per type — the pre-aggregated-rollup
    // algebra that answers distinct-counts at 100 TB without re-scanning
    // raw data. Bottom-k merge is lossless, so the rolled-up estimate
    // hash-matches the oracle's direct-over-raw computation exactly.
    "q77_sketch_rollup" -> ((s, dir) => {
      import graft.functions.{KmvSketch, PortableHash}
      val h = PortableHash.hash60Base(col("user_id").cast("string"))
      val daily = Tables(s, dir, "events")
        .withColumn("day", expr("ts_us div 86400000000"))
        .groupBy(col("event_type"), col("day"))
        .agg(KmvSketch.kmvBuffer(h, 64).as("sk"))
      daily.groupBy(col("event_type"))
        .agg(KmvSketch.kmvMergeEstimate(col("sk"), 64).as("approx_users"),
          count(lit(1)).as("n_parts"))
        .orderBy(col("event_type"))
    }),

    // PII redaction — the scrub stage of a training-data pipeline:
    // detect + replace emails and IPv4s with placeholder tokens, in one
    // codegen regexp pass per pattern. PII is PLANTED deterministically
    // (the synthetic corpus has none) so the scrubber has work at every
    // scale factor; output is counts + an md5 of the scrubbed text so
    // the full rewritten string is hash-checked without shipping it.
    // Patterns avoid Java/RE2 divergences (explicit classes, ASCII \b).
    "q81_redact" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" reach me at user5@example.com")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" from 192.168.10.77 today")).otherwise(lit("")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(EmailRe)).as("n_email"),
          regexp_count(col("t"), lit(Ipv4Re)).as("n_ip"),
          md5(regexp_replace(regexp_replace(col("t"), EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }),

    // Time-weighted average over SCD validity intervals — the analytics
    // an SCD-2 dimension exists to serve: each version's value weighted
    // by the exact number of days it was current. Weights are integer
    // days, values exact DECIMAL(18,2) — the weighted sum is exact and
    // the final division is one identical double op in both engines.
    "q87_time_weighted" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer")
      def ver(delta: Double, start: String, end: String) = cust.select(
        col("c_custkey"),
        dec2(col("c_acctbal") + delta).as("bal"),
        datediff(lit(end).cast("date"), lit(start).cast("date")).as("days"))
      ver(-200, "1993-01-01", "1995-01-01")
        .unionByName(ver(-100, "1995-01-01", "1997-01-01"))
        .unionByName(ver(0, "1997-01-01", "2000-01-01"))
        .groupBy(col("c_custkey"))
        .agg((sum(col("bal") * col("days")).cast("double") /
          sum(col("days")).cast("double")).as("tw_acctbal"),
          sum(col("days")).cast("long").as("n_days"))
        .orderBy(col("c_custkey"))
    }),

    // Incremental rollup maintenance: a persisted (type, day) rollup is
    // kept current by aggregating ONLY the newly-arrived batch and
    // additively merging it into the stored partials — never re-scanning
    // the base data (the materialized-view maintenance shape; COUNT and
    // exact DECIMAL SUM are the additive algebra, the same reason the
    // KMV rollup q77 works). Oracle recomputes the rollup directly over
    // everything — the maintained table must match it bit-for-bit.
    "q80_incremental_rollup" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .withColumn("day", expr("ts_us div 86400000000"))
      // base = the long-ago-ingested history; delta = this batch
      def roll(df: DataFrame): DataFrame = df
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).as("hv"))
      val base = roll(ev.filter(col("event_id") % 5 =!= 0))
      val delta = roll(ev.filter(col("event_id") % 5 === 0))
      base.unionByName(delta)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n"),
          sum(col("hv")).cast("double").as("sum_value"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Boolean aggregates + ordered LISTAGG (Spark 4 surface):
    // bool_and / bool_or / count_if plus listagg DISTINCT ... WITHIN
    // GROUP — DuckDB replays with its string_agg spelling.
    "q79_bool_listagg" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus,
        |  count_if(o_totalprice > 150000.0) AS n_high,
        |  bool_and(o_totalprice > 0.0) AS all_pos,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  listagg(DISTINCT o_orderpriority, ',')
        |    WITHIN GROUP (ORDER BY o_orderpriority) AS prios
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
    }),

    // Per-dimension embedding statistics: posexplode the embedding
    // column into (position, value) and aggregate per position — the
    // column-diagnostics pass (dead/degenerate dimensions, scale drift)
    // a training pipeline runs over its vector corpus. Values go
    // through round(x*1e6) scale-0 integers (identical IEEE multiply +
    // half-up round in both engines) so the per-dimension means
    // hash-check exactly; min/max floats pass through un-arithmetic'd.
    "q83_embedding_stats" -> ((s, dir) => {
      val micro = round(col("v").cast("double") * lit(1000000.0))
        .cast("long")
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("pos"), micro.as("vm"), col("v"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          (sum(col("vm")).cast("double") / lit(1000000.0)).as("sum_v"),
          min(col("v").cast("double")).as("min_v"),
          max(col("v").cast("double")).as("max_v"))
        .orderBy(col("pos"))
    }),

    // GROUP BY ALL / ORDER BY ALL (the modern shorthand both engines
    // resolve identically) — one ANSI text, two engines.
    "q82_group_by_all" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(GroupByAllSql)
    }),

    // Conditional aggregation via the SQL-standard FILTER clause — one
    // ANSI text, two engines (groups with no matching rows yield NULL
    // sums in both).
    "q85_filter_clause" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(FilterClauseSql)
    }),

    // Error-safe casting: TRY_CAST over deterministically messy strings
    // (valid / garbage-prefixed / whitespace-padded) — NULL on failure,
    // identical trim semantics — one ANSI text, two engines.
    "q86_try_cast" -> ((s, dir) => {
      Tables(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(TryCastSql)
    }),

    // Recursive CTE (Spark 4 native UnionLoop): walk the implicit
    // decimal-digit parent chain over customers (parent = key div 10)
    // from the single-digit roots, emitting each node's root and depth —
    // ONE ANSI text executed by both engines (the q45/q73 pattern).
    "q76_recursive_cte" -> ((s, dir) => {
      // UnionLoop rescans the anchor relation once per loop iteration
      // (depth+1 scans); cache the one narrow column the recursion
      // actually reads so every iteration after the first is a memory
      // read, not a parquet scan
      val cust = Tables(s, dir, "customer").select(col("c_custkey")).cache()
      cust.createOrReplaceTempView("customer")
      s.sql(RecursiveSql)
    })
  )

  /** Same interpretation under Java regex and RE2: explicit character
    * classes, bounded repetition, ASCII word boundary.
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** One ANSI text, two engines (q82). */
  private val GroupByAllSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ALL ORDER BY ALL""".stripMargin

  /** One ANSI text, two engines (q85). */
  private val FilterClauseSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS total_f
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** One ANSI text, two engines (q86). */
  private val TryCastSql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'x' || CAST(doc_id AS STRING)
      |         WHEN doc_id % 3 = 1 THEN CAST(doc_id AS STRING)
      |         ELSE ' ' || CAST(doc_id AS STRING) || ' ' END AS s
      |  FROM documents)
      |SELECT doc_id, TRY_CAST(s AS BIGINT) AS v, TRY_CAST(s AS DOUBLE) AS d
      |FROM raw ORDER BY doc_id""".stripMargin

  /** One ANSI text, two engines (q76). */
  private val RecursiveSql =
    """WITH RECURSIVE tree AS (
      |  SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
      |  FROM customer WHERE c_custkey < 10
      |  UNION ALL
      |  SELECT c.c_custkey AS node, t.root AS root, t.depth + 1 AS depth
      |  FROM customer c JOIN tree t
      |    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = t.node
      |  WHERE c.c_custkey >= 10
      |)
      |SELECT node, root, depth FROM tree ORDER BY node""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q74_argminmax" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max_by(o_orderkey, cents * 10000000000 + o_orderkey) AS best_key,
        |  min_by(o_orderkey, cents * 10000000000 + o_orderkey) AS worst_key,
        |  CAST(MAX(cents) AS DOUBLE) / 100.0 AS best_total,
        |  COUNT(*) AS n
        |FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q75_ignore_nulls" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
        |  FROM events WHERE user_id < 8)
        |SELECT user_id, ts_us, event_id, v,
        |  lag(v IGNORE NULLS) OVER w AS prev_v,
        |  lead(v IGNORE NULLS) OVER w AS next_v,
        |  first_value(v IGNORE NULLS) OVER w AS first_v,
        |  nth_value(v, 2 IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS second_v
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q76_recursive_cte" -> RecursiveSql,
    "q82_group_by_all" -> GroupByAllSql,
    "q85_filter_clause" -> FilterClauseSql,
    "q86_try_cast" -> TryCastSql,
    "q83_embedding_stats" ->
      """WITH x AS (
        |  SELECT i - 1 AS pos,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
        |      AS vm,
        |    CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, generate_series(1, 64) t(i)
        |  WHERE i <= len(embedding))
        |SELECT CAST(pos AS INT) AS pos, COUNT(*) AS n,
        |  CAST(SUM(vm) AS DOUBLE) / 1000000.0 AS sum_v,
        |  MIN(v) AS min_v, MAX(v) AS max_v
        |FROM x GROUP BY pos ORDER BY pos""".stripMargin,
    "q87_time_weighted" ->
      """WITH v AS (
        |  SELECT c_custkey, CAST(c_acctbal - 200 AS DECIMAL(18,2)) AS bal,
        |    date_diff('day', DATE '1993-01-01', DATE '1995-01-01') AS days
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_acctbal - 100 AS DECIMAL(18,2)),
        |    date_diff('day', DATE '1995-01-01', DATE '1997-01-01')
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)),
        |    date_diff('day', DATE '1997-01-01', DATE '2000-01-01')
        |  FROM customer)
        |SELECT c_custkey,
        |  CAST(SUM(bal * days) AS DOUBLE) / CAST(SUM(days) AS DOUBLE)
        |    AS tw_acctbal,
        |  CAST(SUM(days) AS BIGINT) AS n_days
        |FROM v GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q81_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id, text
         |    || CASE WHEN doc_id % 5 = 0
         |         THEN ' reach me at user5@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |         THEN ' from 192.168.10.77 today' ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$EmailRe')) AS n_email,
         |  len(regexp_extract_all(t, '$Ipv4Re')) AS n_ip,
         |  md5(regexp_replace(regexp_replace(t, '$EmailRe', '<EMAIL>', 'g'),
         |      '$Ipv4Re', '<IP>', 'g')) AS scrub_md5
         |FROM p ORDER BY doc_id""".stripMargin,
    "q80_incremental_rollup" ->
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,
    "q79_bool_listagg" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(CASE WHEN o_totalprice > 150000.0 THEN 1 END) AS BIGINT)
        |    AS n_high,
        |  bool_and(o_totalprice > 0.0) AS all_pos,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  string_agg(DISTINCT o_orderpriority, ','
        |    ORDER BY o_orderpriority) AS prios
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q77_sketch_rollup" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${graft.functions.PortableHash.hash60BaseSql("user_id::VARCHAR")} AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |p AS (SELECT event_type,
         |    COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_parts
         |  FROM events GROUP BY event_type)
         |SELECT r.event_type,
         |  CASE WHEN max(r.nd) < 64 THEN CAST(max(r.nd) AS DOUBLE)
         |       ELSE 63.0 * 1152921504606846976.0
         |            / CAST(max(CASE WHEN r.rn = 64 THEN r.h END) AS DOUBLE)
         |  END AS approx_users,
         |  CAST(max(p.n_parts) AS BIGINT) AS n_parts
         |FROM r JOIN p ON p.event_type = r.event_type
         |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin
  )
}
