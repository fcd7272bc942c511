package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-2 relational surface extensions: semi join, outer-join
  * distribution, CUBE grouping sets, non-equi (band/theta) broadcast
  * join, the full rank-function suite, and unpivot/melt — operators the
  * reference never needed but a complete engine must cover (SURVEY.md
  * §2.3 "absent from the reference" note, §2.4 grouping-sets note).
  *
  * Numeric policy matches CoreQueries (decimal exact sums, round 6 on
  * per-row floats). Scale notes per query.
  */
object ExtendedQueries {

  /** TPC-H Q4 shape: orders with ≥1 returned lineitem, counted per
    * priority. left_semi keeps the probe row at first match — no
    * fan-out, and the build side is pre-filtered before the shuffle. */
  val qSemiJoin: Q = (s, dir) => {
    val ord = Graft.table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp"))
    val returned = Graft.table(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    ord.join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val qSemiJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q13 shape: order count per customer (left outer join keeps
    * order-less customers at 0), then the distribution of those counts —
    * the double-aggregation pattern. Both aggregations are key-partitioned
    * shuffles; the second input is one row per customer, tiny. */
  val q13Custdist: Q = (s, dir) => {
    val cust = Graft.table(s, dir, "customer")
    val ord = Graft.table(s, dir, "orders")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustdistSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** CUBE over (returnflag, linestatus): all four grouping combinations
    * in one pass (Expand + single shuffle — not four scans). */
  val qCube: Q = (s, dir) =>
    Graft.table(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val qCubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Non-equi band join: events classified into value bands by a range
    * predicate (value ∈ [lo, hi)) against a tiny broadcast dimension —
    * Spark plans BroadcastNestedLoopJoin, the right shape for theta
    * joins against small dims (the general range-join-at-scale pattern
    * is: bucket both sides on a coarsened key, equi-join the buckets,
    * re-filter the exact predicate — q_asof_join shows the keyed variant). */
  val qRangeBand: Q = (s, dir) => {
    val s2 = s
    import s2.implicits._
    val bands = (0 until 8).map(b => (b.toLong, b * 64.0, (b + 1) * 64.0))
      .toDF("band", "lo", "hi")
    Graft.table(s, dir, "events")
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy("band", "event_type")
  }

  val qRangeBandSql: String =
    """WITH bands AS (
      |  SELECT b AS band, b * 64.0 AS lo, (b + 1) * 64.0 AS hi FROM range(8) r(b))
      |SELECT band, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY band, event_type
      |ORDER BY band, event_type""".stripMargin

  /** W8+ rank-function suite per user over events: ntile quartiles and
    * nth_value on the time order (unique via event_id tiebreak),
    * rank/dense_rank/percent_rank/cume_dist on the value order (ties
    * allowed — parquet doubles are bit-identical cross-engine, so tie
    * groups agree). One shuffle on user_id serves both windows. */
  val w6RankSuite: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy("user_id").orderBy(col("value"))
    Graft.events(s, dir)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"),
        ntile(4).over(byTime).cast("long").as("quartile"),
        nth_value(col("value"), 3).over(byTime).as("third_value"),
        rank().over(byValue).cast("long").as("rk"),
        dense_rank().over(byValue).cast("long").as("drk"),
        round(percent_rank().over(byValue), 6).as("prk"),
        round(cume_dist().over(byValue), 6).as("cd"))
      .orderBy("user_id", "event_id")
  }

  val w6RankSuiteSql: String =
    """SELECT user_id, event_id,
      |  ntile(4) OVER wt AS quartile,
      |  nth_value(value, 3) OVER wt AS third_value,
      |  rank() OVER wv AS rk,
      |  dense_rank() OVER wv AS drk,
      |  ROUND(percent_rank() OVER wv, 6) AS prk,
      |  ROUND(cume_dist() OVER wv, 6) AS cd
      |FROM events
      |WHERE user_id < 30
      |WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |       wv AS (PARTITION BY user_id ORDER BY value)
      |ORDER BY user_id, event_id""".stripMargin

  /** J3 inverse: unpivot/melt — the q1 aggregate wide row melted into
    * (measure, value) pairs via stack (Spark's generator-based melt; the
    * oracle uses the equivalent UNION ALL). */
  val j4Unpivot: Q = (s, dir) =>
    CoreQueries.q1Agg(s, dir)
      .selectExpr("l_returnflag", "l_linestatus",
        """stack(3,
          |  'sum_qty', sum_qty,
          |  'sum_base_price', sum_base_price,
          |  'avg_disc', avg_disc) AS (measure, val)""".stripMargin)
      .orderBy("l_returnflag", "l_linestatus", "measure")

  val j4UnpivotSql: String = {
    val inner = CoreQueries.q1AggSql
    s"""WITH q1 AS ($inner)
       |SELECT l_returnflag, l_linestatus, measure, val FROM (
       |  SELECT l_returnflag, l_linestatus, 'sum_qty' AS measure, sum_qty AS val FROM q1
       |  UNION ALL
       |  SELECT l_returnflag, l_linestatus, 'sum_base_price', sum_base_price FROM q1
       |  UNION ALL
       |  SELECT l_returnflag, l_linestatus, 'avg_disc', avg_disc FROM q1)
       |ORDER BY l_returnflag, l_linestatus, measure""".stripMargin
  }

  /** Funnel conversion (view → click → purchase): per user, the earliest
    * view, the earliest click at-or-after it, the earliest purchase
    * at-or-after that; stage counts out. Three keyed aggregations chained
    * by broadcast-sized joins (one row per user after each stage) — the
    * standard product-analytics op at any scale. */
  /** F3: daily retention cohorts — users grouped by first-seen day,
    * counted on each later day they stayed active. The canonical
    * event-pipeline rollup: two keyed aggregations (distinct user-days,
    * per-user min day) and a count-distinct per (cohort, offset) cell.
    * Days are epoch-µs integer division on BOTH engines (the events ns
    * timestamps carry sub-µs parts that DuckDB truncates, so µs is the
    * shared precision — README float/ts policy). */
  val f3Retention: Q = (s, dir) => {
    val days = Graft.events(s, dir)
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))
      .distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  val f3RetentionSql: String =
    """WITH w AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort FROM w GROUP BY 1)
      |SELECT c.cohort, w.day - c.cohort AS day_offset,
      |  COUNT(DISTINCT w.user_id) AS n_users
      |FROM w JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val f1Funnel: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, "user_id").filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val buys = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id").filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_buy"))
    views.select(lit(1L).as("stage"), lit("view").as("stage_name"), col("user_id"))
      .unionByName(clicks.select(lit(2L).as("stage"), lit("click").as("stage_name"), col("user_id")))
      .unionByName(buys.select(lit(3L).as("stage"), lit("purchase").as("stage_name"), col("user_id")))
      .groupBy("stage", "stage_name").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  val f1FunnelSql: String =
    """WITH views AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |clicks AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN views v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
      |  GROUP BY e.user_id),
      |buys AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy
      |  FROM events e JOIN clicks c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      |  GROUP BY e.user_id)
      |SELECT stage, stage_name, COUNT(*) AS n_users FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, user_id FROM views
      |  UNION ALL SELECT 2, 'click', user_id FROM clicks
      |  UNION ALL SELECT 3, 'purchase', user_id FROM buys)
      |GROUP BY stage, stage_name ORDER BY stage""".stripMargin

  /** TPC-H Q17 shape: revenue locked in small-quantity orders — join each
    * lineitem to its part's average quantity and keep rows under 20 % of
    * it. The per-part average is a self-aggregation of lineitem (exact
    * decimal, so the filter threshold is engine-identical); at scale AQE
    * broadcasts it when small and the compare is a post-join filter, never
    * a correlated per-row subquery. */
  val q17SmallQty: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem")
    val avgQty = li.groupBy("l_partkey")
      .agg((sum(col("l_quantity").cast("decimal(18,4)")) / count(lit(1)))
        .cast("double").as("aq"))
    li.join(avgQty, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("aq"))
      .agg(
        round((sum(col("l_extendedprice").cast("decimal(18,4)")) / 7.0)
          .cast("double"), 2).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  val q17SmallQtySql: String =
    """WITH aq AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) / COUNT(*) AS DOUBLE) AS aq
      |  FROM lineitem GROUP BY 1)
      |SELECT
      |  CAST(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) / 7.0 AS DOUBLE) AS DECIMAL(38,2)) AS DOUBLE) AS avg_yearly,
      |  COUNT(*) AS n_items
      |FROM lineitem l JOIN aq USING (l_partkey)
      |WHERE l.l_quantity < 0.2 * aq.aq""".stripMargin

  /** Incremental-aggregation merge (materialized-view maintenance): the
    * partial (sum, count) states computed per ingest batch merge into the
    * exact global average without touching raw history — the algebraic-
    * aggregate contract that makes incremental rollup possible at any
    * scale. Batches are simulated by l_orderkey parity. */
  val qIncrementalAgg: Q = (s, dir) => {
    val partials = Graft.table(s, dir, "lineitem")
      .withColumn("batch", col("l_orderkey") % 2)
      .groupBy("batch", "l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"),
        count(lit(1)).as("c"))
    partials.groupBy("l_returnflag")
      .agg(round((sum(col("sq")) / sum(col("c"))).cast("double"), 6).as("avg_qty"),
        sum(col("c")).as("n"))
      .orderBy("l_returnflag")
  }

  val qIncrementalAggSql: String =
    """WITH p AS (
      |  SELECT l_orderkey % 2 AS batch, l_returnflag,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq, COUNT(*) AS c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag,
      |  CAST(CAST(CAST(SUM(sq) / SUM(c) AS DOUBLE) AS DECIMAL(38,6)) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(c) AS BIGINT) AS n
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** Grouped exact percentiles (linear interpolation — the reference's
    * A5 definition, volatility.py:193-200, applied per group instead of
    * globally): median and p90 of event value per event_type. One keyed
    * sort-based aggregation; percentile_approx is the drop-in at scales
    * where exact per-group sort is too hot. */
  val qGroupPercentile: Q = (s, dir) =>
    Graft.table(s, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  // p90 is a non-dyadic, non-median percentile → Spark's exact
  // interpolation chain, not quantile_cont (OracleSql scaladoc; the
  // tie short-circuit vs (1−f)a+fb re-rounding class the sf1-jitter
  // gate caught on c12). The median would be exempt by proof but rides
  // the same chain for uniformity.
  val qGroupPercentileSql: String =
    "WITH " + OracleSql.pctChain("pct", "events", "value", Seq("event_type"),
      Seq("p50" -> "0.5", "p90" -> "0.9")) +
    """,
      |cnt AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
      |SELECT c.event_type, ROUND(p.p50, 6) AS p50, ROUND(p.p90, 6) AS p90, c.n
      |FROM cnt c LEFT JOIN pct p USING (event_type)
      |ORDER BY event_type""".stripMargin

  /** F11: JSON field extraction — pull the numeric `k` out of the events
    * `props` JSON column and aggregate it per event type. Path extraction
    * is stateless row math (codegen'd in Spark, no shuffle beyond the
    * final aggregate); integer sums are exact. */
  val f11JsonExtract: Q = (s, dir) =>
    Graft.table(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  val f11JsonExtractSql: String =
    """WITH j AS (
      |  SELECT event_type,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  /** F12: calendar rollup — revenue and order count per month
    * (date_trunc), the time-dimension grouping every warehouse query
    * uses. Exact decimal revenue sums. */
  val f12MonthRollup: Q = (s, dir) =>
    Graft.table(s, dir, "orders")
      .withColumn("month", to_date(date_trunc("month", col("o_orderdate"))))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy("month")

  val f12MonthRollupSql: String =
    """SELECT date_trunc('month', o_orderdate) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** W11: ratio-to-report — each (day, event_type)'s share of the day's
    * total event value: a window aggregate over an aggregate (the classic
    * percent-of-total report). Sums are exact decimal; the share ratio is
    * one IEEE division of identical doubles, quantized on the 6-dp grid. */
  val w11RatioToReport: Q = (s, dir) => {
    // repartition by day alone: the (day, event_type) aggregation accepts
    // the subset partitioning and the percent-of-total window partitions
    // by day — one shuffle serves both (same trick as dailyBars).
    val daily = Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
      .repartition(col("day"))
      .groupBy("day", "event_type")
      .agg(sum(col("value").cast("decimal(18,4)")).as("sv"))
    val wDay = Window.partitionBy("day")
    daily
      .withColumn("share",
        q6(col("sv").cast("double") / sum(col("sv")).over(wDay).cast("double")))
      .select(col("day"), col("event_type"),
        col("sv").cast("double").as("sum_value"), col("share"))
      .orderBy("day", "event_type")
  }

  val w11RatioToReportSql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    SUM(CAST(value AS DECIMAL(18,4))) AS sv
      |  FROM events GROUP BY 1, 2)
      |SELECT day, event_type, CAST(sv AS DOUBLE) AS sum_value,
      |  FLOOR(CAST(sv AS DOUBLE) / CAST(SUM(sv) OVER (PARTITION BY day) AS DOUBLE)
      |        * 1e6 + 0.5) / 1e6 AS share
      |FROM d ORDER BY day, event_type""".stripMargin

  /** K7: top-K per time window — each hour's top-3 event types by count
    * (count desc, name tiebreak). The grouped generalization of K4's
    * global top-N: aggregate then rank-filter inside the window key; at
    * scale the rank never sees more rows per partition than distinct
    * group values. */
  val k7WindowTopk: Q = (s, dir) => {
    val hourly = Graft.table(s, dir, "events")
      .withColumn("hour", expr("timestamp_micros((ts div 3600000000000) * 3600000000)"))
      .groupBy("hour", "event_type")
      .agg(count(lit(1)).as("n"))
    hourly
      .withColumn("rk", row_number().over(
        Window.partitionBy("hour").orderBy(col("n").desc, col("event_type"))).cast("long"))
      .filter(col("rk") <= 3)
      .select("hour", "event_type", "n", "rk")
      .orderBy("hour", "rk")
  }

  val k7WindowTopkSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT hour, event_type, n,
      |    row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rk
      |  FROM h)
      |SELECT hour, event_type, n, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3 ORDER BY hour, rk""".stripMargin

  /** F13: equal-width histogram — 20 buckets over the global value range
    * per event type (feature-distribution profiling). The min/max frame
    * is a one-row broadcast; bucketing is stateless row math on exact
    * doubles, so bucket edges are engine-identical. */
  val f13Histogram: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
    val range = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    ev.crossJoin(broadcast(range))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(19L), floor((col("value") - col("mn")) /
            ((col("mx") - col("mn")) / 20.0)))).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")
  }

  val f13HistogramSql: String =
    """WITH r AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events)
      |SELECT event_type,
      |  CAST(CASE WHEN mx = mn THEN 0
      |            ELSE LEAST(19, FLOOR((value - mn) / ((mx - mn) / 20.0)))
      |       END AS BIGINT) AS bucket,
      |  COUNT(*) AS n
      |FROM events, r
      |GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  /** F2: funnel latency — per converting user, the time from first view
    * to the first purchase at-or-after it; reported as the user count
    * plus exact median/p90 latency in seconds. Two keyed aggregations
    * and one broadcast-sized join (one row per user after the first),
    * then a global exact percentile over integral nanosecond latencies. */
  val f2FunnelLatency: Q = (s, dir) => {
    val ev = Graft.table(s, dir, "events")
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts") >= col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_buy"), min(col("t_view")).as("t_view"))
    firstBuy
      .withColumn("latency_s", (col("t_buy") - col("t_view")).cast("double") / lit(1e9))
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(latency_s, 0.5)"), 6).as("p50_s"),
        round(expr("percentile(latency_s, 0.9)"), 6).as("p90_s"))
  }

  val f2FunnelLatencySql: String =
    """WITH fv AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |fb AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy, MIN(fv.t_view) AS t_view
      |  FROM events e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= fv.t_view
      |  GROUP BY e.user_id),
      |lat AS (
      |  SELECT CAST(epoch_ns(t_buy) - epoch_ns(t_view) AS DOUBLE) / 1e9 AS latency_s
      |  FROM fb),
      |""".stripMargin +
    // p90 via Spark's exact chain, not quantile_cont (OracleSql scaladoc)
    OracleSql.pctChain("pct", "lat", "latency_s", Seq(),
      Seq("p50" -> "0.5", "p90" -> "0.9")) +
    """
      |SELECT (SELECT COUNT(*) FROM lat) AS n_users,
      |  ROUND(p50, 6) AS p50_s, ROUND(p90, 6) AS p90_s
      |FROM pct""".stripMargin

  /** TPC-H Q19 shape: disjunctive brand/size/quantity predicate across a
    * lineitem ⋈ part join — the classic OR-of-ANDs case. The part-side
    * conjuncts' common denominators (brand IN, size ≥ 1) push to the part
    * scan, the dimension broadcasts, and the full disjunction evaluates
    * post-join inside codegen — no per-branch rescan. */
  val q19Disjunctive: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem")
    val part = Graft.table(s, dir, "part")
    val cond =
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(20, 30))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19DisjunctiveSql: String =
    """SELECT
      |  CAST(SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    * Fact-fact join shuffles on orderkey; the customer dimension
    * broadcasts onto the aggregated (one-row-per-customer) side; the top
    * 20 plans as TakeOrderedAndProject, never a global sort. */
  val q10ReturnedCustomers: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val ord = Graft.table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp"))
    val cust = Graft.table(s, dir, "customer")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))).as("rev"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("rev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnedCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2))))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |GROUP BY c_custkey, c_name, c_mktsegment
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q6 shape: the pure scan-filter-aggregate forecast query —
    * every predicate (ship-date year, discount band, quantity cap)
    * pushes to the parquet scan, no join, one partial+final aggregate.
    * The canonical pushdown/pruning showcase. */
  val q6Forecast: Q = (s, dir) =>
    Graft.table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(4,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val q6ForecastSql: String =
    """SELECT
      |  CAST(SUM((CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q14 shape: promotion effect — the share of each ship-month's
    * revenue carried by PROMO-type parts. Conditional aggregation over
    * one fact-dim join; both sums are exact decimal, the percentage is
    * one IEEE division on the display grid. */
  val q14PromoShare: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem")
    val part = Graft.table(s, dir, "part")
    // Exact-decimal product (both inputs are exact 2-decimal values):
    // the sum is exact and engine-independent, unlike a decimal cast of
    // the double product whose boundary rounding diverged at sf1.
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .withColumn("month", to_date(date_trunc("month", col("l_shipdate"))))
      .groupBy("month")
      .agg(sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(24,4)"))).as("promo"),
        sum(rev).as("total"))
      .select(col("month"),
        q6(col("promo").cast("double") / col("total").cast("double") * lit(100.0))
          .as("promo_share"),
        col("total").cast("double").as("revenue"))
      .orderBy("month")
  }

  val q14PromoShareSql: String =
    """SELECT date_trunc('month', l_shipdate) AS month,
      |  FLOOR(CAST(SUM(CASE WHEN p_type = 'PROMO'
      |                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |                           * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
      |                      ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
      |          / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                     * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
      |          * 100.0 * 1e6 + 0.5) / 1e6 AS promo_share,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Explicit GROUPING SETS — the general form CUBE/ROLLUP specialize:
    * ((flag, status), (flag), ()) in one Expand + one shuffle, with
    * grouping_id() disambiguating which set produced each row (a NULL
    * status could otherwise be data or subtotal). */
  val qGroupingSets: Q = (s, dir) =>
    Graft.table(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Time-band self-join via coarse buckets — THE scale pattern for
    * range joins: bucket both sides on floor(ts/band) (integer `div`,
    * never double division — ns epochs overflow a double's 53-bit
    * mantissa), equi-join on (user, bucket) with one side expanded to
    * its 3 neighbor buckets, then re-filter the exact |Δt| ≤ band
    * predicate. Each qualifying pair matches exactly one bucket
    * equality, so no dedup pass is needed. The join stays a keyed
    * hash/sort-merge join — never a per-user cross product — so it
    * survives users with millions of events. PlanSpec pins the shape. */
  val j5TimeBandPairs: Q = (s, dir) => {
    val band = 3600L * 1000000000L // 1 hour in ns
    val e = Graft.events(s, dir)
    val a = e.select(col("user_id"), col("event_id").as("id_a"),
      col("ts").as("ts_a"), expr(s"ts div ${band}L").as("bk"))
    val b = e.select(col("user_id"), col("event_id").as("id_b"),
      col("ts").as("ts_b"), expr(s"ts div ${band}L").as("bk0"))
      .select(col("user_id"), col("id_b"), col("ts_b"),
        explode(array(col("bk0") - 1, col("bk0"), col("bk0") + 1)).as("bk"))
    a.join(b, Seq("user_id", "bk"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("ts_a") - col("ts_b")) <= band)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  val j5TimeBandPairsSql: String =
    """SELECT a.user_id, COUNT(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND abs(epoch_ns(a.ts) - epoch_ns(b.ts)) <= 3600000000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** F5: event-type Markov transition matrix — counts and row-
    * normalized probabilities of consecutive (type → next type) steps
    * within each user's ordered stream. The first-order sequence model
    * behind session simulation and anomaly scoring: one window (lead)
    * + one keyed count; probabilities are one exact-integer IEEE
    * division, rounded for display. */
  val f5Markov: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = Graft.table(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    tr.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("prob", round(col("n").cast("double") / col("row_total"), 6))
      .select("from_type", "to_type", "n", "prob")
      .orderBy("from_type", "to_type")
  }

  val f5MarkovSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS prob
      |FROM c ORDER BY from_type, to_type""".stripMargin

  def queries: Map[String, Q] = Map(
    "f5_markov" -> f5Markov,
    "q_grouping_sets" -> qGroupingSets,
    "j5_time_band_pairs" -> j5TimeBandPairs,
    "q14_promo_share" -> q14PromoShare,
    "q6_forecast" -> q6Forecast,
    "q10_returned_customers" -> q10ReturnedCustomers,
    "q19_disjunctive" -> q19Disjunctive,
    "f2_funnel_latency" -> f2FunnelLatency,
    "f13_histogram" -> f13Histogram,
    "w11_ratio_to_report" -> w11RatioToReport,
    "k7_window_topk" -> k7WindowTopk,
    "q_group_percentile" -> qGroupPercentile,
    "f11_json_extract" -> f11JsonExtract,
    "f12_month_rollup" -> f12MonthRollup,
    "q17_small_qty" -> q17SmallQty,
    "q_incremental_agg" -> qIncrementalAgg,
    "f1_funnel" -> f1Funnel,
    "f3_retention" -> f3Retention,
    "q_semi_join" -> qSemiJoin,
    "q13_custdist" -> q13Custdist,
    "q_cube" -> qCube,
    "q_range_band" -> qRangeBand,
    "w6_rank_suite" -> w6RankSuite,
    "j4_unpivot" -> j4Unpivot,
  )

  def oracle: Map[String, String] = Map(
    "q_grouping_sets" -> qGroupingSetsSql,
    "j5_time_band_pairs" -> j5TimeBandPairsSql,
    "q14_promo_share" -> q14PromoShareSql,
    "q6_forecast" -> q6ForecastSql,
    "q10_returned_customers" -> q10ReturnedCustomersSql,
    "q19_disjunctive" -> q19DisjunctiveSql,
    "f2_funnel_latency" -> f2FunnelLatencySql,
    "f5_markov" -> f5MarkovSql,
    "f13_histogram" -> f13HistogramSql,
    "w11_ratio_to_report" -> w11RatioToReportSql,
    "k7_window_topk" -> k7WindowTopkSql,
    "q_group_percentile" -> qGroupPercentileSql,
    "f11_json_extract" -> f11JsonExtractSql,
    "f12_month_rollup" -> f12MonthRollupSql,
    "q17_small_qty" -> q17SmallQtySql,
    "q_incremental_agg" -> qIncrementalAggSql,
    "f1_funnel" -> f1FunnelSql,
    "f3_retention" -> f3RetentionSql,
    "q_semi_join" -> qSemiJoinSql,
    "q13_custdist" -> q13CustdistSql,
    "q_cube" -> qCubeSql,
    "q_range_band" -> qRangeBandSql,
    "w6_rank_suite" -> w6RankSuiteSql,
    "j4_unpivot" -> j4UnpivotSql,
  )
}
