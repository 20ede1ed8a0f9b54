package graft.queries

import graft.functions.PortableHash
import graft.queries.fixtures.Vectors
import graft.similarity.Similarity
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-3 coverage widening — the remaining checklist gaps, each
  * oracle-checked: explicit GROUPING SETS (completing the lattice family
  * next to q32 ROLLUP / q34 CUBE), MapType construction + access, time
  * series gap-fill/resample with forward fill, int8-quantized ANN (exact
  * integer scoring -> hash-checkable approximate search), and stratified
  * deterministic sampling (per-stratum rates).
  */
object Round3Queries extends QueryGroup {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  private val HourUs = 3600000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Explicit GROUPING SETS: an arbitrary subset of the lattice —
    // (status, priority), (status), () — one Expand, partial agg intact.
    "q63_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_st"),
          grouping(col("o_orderpriority")).cast("int").as("g_pr"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first, col("g_st"), col("g_pr"))
    }),

    // MapType: build a status->count map per priority (entries sorted so
    // map construction is shuffle-order-independent), then probe/inspect
    // it — access, size, key listing. Output flattened to scalars (the
    // driver compare cannot hash nested cells); the ORACLE computes the
    // same scalars relationally, which is the point: the map is the
    // engine-side representation, the VALUES are the contract.
    "q64_map_ops" -> ((s, dir) => {
      val m = Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderpriority"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("o_orderstatus"), col("cnt"))))).as("m"))
      def probe(k: String): Column =
        coalesce(try_element_at(col("m"), lit(k)), lit(0L))
      m.select(col("o_orderpriority"),
          probe("O").as("n_open"),
          probe("F").as("n_finished"),
          probe("P").as("n_pending"),
          size(col("m")).as("n_statuses"),
          concat_ws(",", map_keys(col("m"))).as("statuses"))
        .orderBy(col("o_orderpriority"))
    }),

    // Time series: hourly resample of the event stream per user, gaps
    // filled from a generated per-user hour grid (sequence + explode),
    // counts zero-filled, values forward-filled (last non-null over an
    // ordered running frame). All time math in epoch MICROSECONDS —
    // events.ts is parquet ns, and µs is the cross-engine precision.
    "q65_time_series" -> ((s, dir) => {
      val agg = Tables(s, dir, "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"),
          expr(s"(ts_us div $HourUs) * $HourUs").as("hr"), col("value"))
        .groupBy(col("user_id"), col("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec6(col("value"))).cast("double").as("hv"))
      val grid = agg.groupBy(col("user_id"))
        .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), lit(HourUs))).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(agg, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("hv"), ignoreNulls = true).over(w).as("ff_value"))
        .orderBy(col("user_id"), col("hr"))
    }),

    // Int8-quantized cosine top-k: symmetric per-vector quantization,
    // codegen integer-dot kernel — approximate search whose scores are
    // nonetheless EXACT integers/deterministic doubles, so the whole
    // ranking hash-checks against the oracle (unlike float ANN paths
    // where only the portable-plane variant q41 can).
    "q66_quantized_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.quantizedTopK(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Non-equi point-in-interval range join, bucketized (RangeJoin):
    // shipment timestamps against 7-day order windows with NO shared
    // key — the time-bucket equi-join shape that replaces a
    // nested-loop/cartesian at scale. All time math in epoch µs.
    "q69_interval_join" -> ((s, dir) => {
      val dayUs = 86400000000L
      val iv = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("win_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ws"))
        .withColumn("we", col("ws") + lit(7 * dayUs))
      val pts = Tables(s, dir, "lineitem")
        .select(col("l_quantity"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
      graft.operators.RangeJoin
        .pointInInterval(pts, iv, "ship_us", "ws", "we", dayUs)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_ship"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("win_id"))
    }),

    // Statistics functions: correlation / sample covariance / sample
    // stddev from EXACT decimal co-moments (one pass, map-side
    // combinable), assembled into doubles with an identical IEEE
    // operation sequence in both engines — hash-checkable where the
    // built-in streaming-moment implementations would drift in low
    // bits. (Built-ins corr/covar_samp/stddev are asserted ~equal to
    // these in StatsSpec.)
    "q70_stats_corr" -> ((s, dir) => {
      // SCALE-0 centi-unit integers end to end: x,y in hundredths (the
      // data's native 2-decimal precision), co-moment sums as exact
      // DECIMAL(38,0) integers. Both engines then convert the SAME
      // exact integer to double (a correctly-rounded conversion on both
      // sides) — where a scaled DECIMAL sum diverges in low bits because
      // DuckDB converts decimal->double as int/10^s in double
      // arithmetic. The centi-scaling cancels in corr and divides out
      // of cov (1e4) and the stddevs (1e2) as exact powers of ten.
      val xc = (dec2(col("l_quantity")) * 100).cast("long")
      val yc = (dec2(col("l_extendedprice")) * 100).cast("long")
      def big(c: Column): Column = c.cast(DecimalType(38, 0))
      def d(c: String): Column = col(c).cast("double")
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(big(col("xc"))).as("sx"), sum(big(col("yc"))).as("sy"),
          sum(big(col("xc") * col("xc"))).as("sxx"),
          sum(big(col("yc") * col("yc"))).as("syy"),
          sum(big(col("xc") * col("yc"))).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((d("n") * d("sxy") - d("sx") * d("sy")) /
            sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
              (d("n") * d("syy") - d("sy") * d("sy")))).as("corr_qp"),
          (((d("sxy") - d("sx") * d("sy") / d("n")) / (d("n") - lit(1.0)))
            / lit(10000.0)).as("cov_qp"),
          (sqrt((d("n") * d("sxx") - d("sx") * d("sx")) /
            (d("n") * (d("n") - lit(1.0)))) / lit(100.0)).as("sd_q"),
          (sqrt((d("n") * d("syy") - d("sy") * d("sy")) /
            (d("n") * (d("n") - lit(1.0)))) / lit(100.0)).as("sd_p"))
        .orderBy(col("l_returnflag"))
    }),

    // UNPIVOT / melt: wide measure columns to long (measure, value)
    // rows — the Dataset.unpivot operator vs DuckDB's native UNPIVOT —
    // folded back to per-measure aggregates for a compact compare.
    "q72_unpivot" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(dec6(col("val"))).cast("double").as("total"))
        .orderBy(col("measure"))
    }),

    // LATERAL correlated subquery (one ANSI text, both engines — the
    // q45 pattern): per-customer order stats computed in a lateral
    // derived table.
    "q73_lateral" -> ((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("customer")
      Tables(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(LateralSql)
    }),

    // Stratified deterministic sampling: per-stratum rates (heavy
    // downsample of high-volume strata, light elsewhere) from the same
    // portable md5 coin as q54's uniform sample — DataFrameStatFunctions
    // .sampleBy's shape, reproducible in any engine, repartition-stable.
    "q67_stratified_sample" -> ((s, dir) => {
      val rateMilli = when(col("event_type") === "click", 20)
        .when(col("event_type") === "view", 200)
        .otherwise(100)
      Tables(s, dir, "events")
        .filter(PortableHash.hash60Base(col("event_id").cast("string"))
          % 1000 < rateMilli)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(dec6(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("event_type"))
    })
  )

  /** One ANSI text, two engines (q73). */
  private val LateralSql =
    """SELECT c.c_custkey, l.n_orders, l.best
      |FROM customer c,
      |LATERAL (
      |  SELECT COUNT(*) AS n_orders,
      |    CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS best
      |  FROM orders o WHERE o.o_custkey = c.c_custkey) l
      |WHERE l.n_orders > 0
      |ORDER BY c.c_custkey""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q63_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_pr
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |  g_st, g_pr""".stripMargin,
    "q64_map_ops" ->
      """SELECT o_orderpriority,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_open,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_finished,
        |  CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_pending,
        |  CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q65_time_series" ->
      """WITH base AS (
        |  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS hr,
        |    value
        |  FROM events WHERE user_id < 20),
        |agg AS (
        |  SELECT user_id, hr, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS hv
        |  FROM base GROUP BY 1, 2),
        |b AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx
        |  FROM agg GROUP BY 1),
        |grid AS (SELECT user_id,
        |  unnest(generate_series(mn, mx, 3600000000)) AS hr FROM b)
        |SELECT g.user_id, g.hr,
        |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
        |  last_value(a.hv IGNORE NULLS) OVER (PARTITION BY g.user_id
        |    ORDER BY g.hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS ff_value
        |FROM grid g LEFT JOIN agg a USING (user_id, hr)
        |ORDER BY user_id, hr""".stripMargin,
    "q66_quantized_ann" -> Vectors.quantizedAnnSql,
    "q72_unpivot" ->
      """SELECT measure, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |             l_extendedprice, l_discount, l_tax FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME measure VALUE val)
        |GROUP BY measure ORDER BY measure""".stripMargin,
    "q73_lateral" -> LateralSql,
    "q70_stats_corr" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(xc) AS sx, SUM(yc) AS sy,
        |    SUM(xc * xc) AS sxx, SUM(yc * yc) AS syy,
        |    SUM(xc * yc) AS sxy
        |  FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qp,
        |  (CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cov_qp,
        |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0 AS sd_q,
        |  sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) / 100.0 AS sd_p
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q69_interval_join" ->
      """WITH iv AS (
        |  SELECT o_orderkey AS win_id, epoch_us(o_orderdate) AS ws,
        |    epoch_us(o_orderdate) + 604800000000 AS we
        |  FROM orders WHERE o_orderkey % 997 = 0)
        |SELECT win_id, COUNT(*) AS n_ship,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM iv JOIN lineitem
        |  ON epoch_us(l_shipdate) >= ws AND epoch_us(l_shipdate) < we
        |GROUP BY win_id ORDER BY win_id""".stripMargin,
    "q67_stratified_sample" ->
      s"""SELECT event_type, COUNT(*) AS n_sampled,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE ${PortableHash.hash60BaseSql("event_id::VARCHAR")} % 1000 <
         |  CASE event_type WHEN 'click' THEN 20 WHEN 'view' THEN 200
         |  ELSE 100 END
         |GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
