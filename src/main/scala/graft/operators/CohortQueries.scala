package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / calendar-structure analytics over `events`: cohort
  * retention and weekday-seasonality decomposition. Both are
  * aggregate-then-window shapes — the heavy table is reduced by a keyed
  * aggregation FIRST, and every subsequent window runs over the small
  * aggregate, so the event stream is shuffled at most twice regardless
  * of scale.
  *
  * Numeric policy: date arithmetic is exact; return sums go through
  * DECIMAL(28,12) (order-independent); each reported mean is a single
  * IEEE division of the exact sum by an exact count, bit-identical
  * across engines; display values quantize on the floor(x·1e6+0.5)
  * grid.
  */
object CohortQueries {

  private def eventsWithDay(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graft.table(s, dir, "events")
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))

  /** F6: weekly cohort retention — users bucketed by the ISO week of
    * their first event (the cohort), then counted distinct per cohort ×
    * week-offset. The classic retention triangle. Shape: one groupBy to
    * find first days (reduces events to one row per user), a keyed join
    * back (user_id — co-partitioned with the groupBy, no extra shuffle
    * under AQE), one distinct-aggregate on (cohort, offset, user). */
  val f6Cohort: Q = (s, dir) => {
    val ev = eventsWithDay(s, dir).select("user_id", "day")
    val cohorts = ev.groupBy("user_id")
      .agg(min(col("day")).as("first_day"))
      .withColumn("cohort", to_date(date_trunc("week", col("first_day"))))
      .select("user_id", "cohort")
    ev.join(cohorts, "user_id")
      .withColumn("offset_w", floor(datediff(col("day"), col("cohort")) / lit(7.0)).cast("long"))
      .groupBy("cohort", "offset_w")
      .agg(countDistinct(col("user_id")).cast("long").as("active_users"))
      .orderBy("cohort", "offset_w")
  }

  val f6CohortSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', MIN(day)) AS DATE) AS cohort
      |  FROM ev GROUP BY 1)
      |SELECT cohort,
      |  CAST(floor((ev.day - c.cohort) / 7.0) AS BIGINT) AS offset_w,
      |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS active_users
      |FROM ev JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort, offset_w""".stripMargin

  /** A21: weekday-seasonality decomposition of daily close-to-close
    * returns — per (series, ISO weekday): day count, mean return, and
    * the seasonal component (weekday mean − series mean). The "is
    * Monday systematically different" question, answered with one bars
    * aggregation, one lag window, one groupBy to 7 rows per series, and
    * a window over those 7 rows (sums reused, not recomputed). ISO
    * weekday (1 = Monday) on both engines: Spark `weekday()+1`, DuckDB
    * `isodow()` — plain `dayofweek` disagrees between the two. */
  val a21Seasonality: Q = (s, dir) => {
    val bars = PatternQueries.dailyBars(s, dir)
    val ret = bars
      .withColumn("prev", lag(col("close"), 1).over(
        Window.partitionBy("user_id").orderBy("day")))
      .filter(col("prev").isNotNull && col("prev") =!= 0.0)
      .withColumn("ret", col("close") / col("prev") - 1)
      .withColumn("dow", (weekday(col("day")) + 1).cast("long"))
    val byDow = ret.groupBy("user_id", "dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("ret").cast("decimal(28,12)")).as("sum_ret"))
    val w = Window.partitionBy("user_id")
    byDow
      .withColumn("mean_dow", col("sum_ret").cast("double") / col("n_days"))
      .withColumn("mean_all",
        sum(col("sum_ret")).over(w).cast("double") / sum(col("n_days")).over(w))
      .select(col("user_id"), col("dow"), col("n_days").cast("long").as("n_days"),
        q6(col("mean_dow")).as("mean_ret"),
        q6(col("mean_dow") - col("mean_all")).as("seasonal"))
      .orderBy("user_id", "dow")
  }

  val a21SeasonalitySql: String = PatternQueries.barsCte +
    """,
      |r AS (
      |  SELECT user_id, day, close,
      |    lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM bars),
      |ret AS (
      |  SELECT user_id, isodow(day) AS dow, close / prev - 1 AS ret
      |  FROM r WHERE prev IS NOT NULL AND prev <> 0),
      |bydow AS (
      |  SELECT user_id, dow, COUNT(*) AS n_days,
      |    SUM(CAST(ret AS DECIMAL(28,12))) AS sum_ret
      |  FROM ret GROUP BY 1, 2),
      |m AS (
      |  SELECT user_id, dow, n_days,
      |    CAST(sum_ret AS DOUBLE) / n_days AS mean_dow,
      |    CAST(SUM(sum_ret) OVER (PARTITION BY user_id) AS DOUBLE) /
      |      SUM(n_days) OVER (PARTITION BY user_id) AS mean_all
      |  FROM bydow)
      |SELECT user_id, CAST(dow AS BIGINT) AS dow, CAST(n_days AS BIGINT) AS n_days,
      |  floor(mean_dow * 1e6 + 0.5) / 1e6 AS mean_ret,
      |  floor((mean_dow - mean_all) * 1e6 + 0.5) / 1e6 AS seasonal
      |FROM m ORDER BY user_id, dow""".stripMargin

  /** F9: DAU / trailing-7-day WAU stickiness per day. Sliding-window
    * DISTINCT counts have no native Spark operator (windowed
    * countDistinct isn't supported over range frames); the scalable
    * rewrite is the bounded fan-out: each (user, day) contributes to
    * the ≤7 window-end days it can appear in (explode of a 7-date
    * sequence — fan-out bounded by window/slide, never data-dependent),
    * then one keyed distinct aggregation per window day. Only days that
    * exist in the data emit (inner join against DAU). */
  val f9Stickiness: Q = (s, dir) => {
    val ud = Graft.table(s, dir, "events")
      .select(col("user_id"),
        to_date(expr("timestamp_micros(ts div 1000)")).as("day"))
      .distinct()
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
      .groupBy("wday").agg(countDistinct("user_id").as("wau"))
    ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      .join(wau, col("wday") === col("day"))
      .select(col("day"), col("dau").cast("long").as("dau"),
        col("wau").cast("long").as("wau"),
        q6(col("dau").cast("double") / col("wau")).as("stickiness"))
      .orderBy("day")
  }

  val f9StickinessSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, day + CAST(i AS INTEGER) AS wday
      |      FROM ud, UNNEST(range(0, 7)) AS t(i)),
      |wau AS (SELECT wday, COUNT(DISTINCT user_id) AS wau FROM c GROUP BY wday),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day)
      |SELECT day, dau, wau,
      |  floor(CAST(dau AS DOUBLE) / wau * 1e6 + 0.5) / 1e6 AS stickiness
      |FROM dau JOIN wau ON wau.wday = dau.day
      |ORDER BY day""".stripMargin

  /** F15: RFM segmentation — per user: recency (days since last
    * purchase, against the global max event day), frequency (purchase
    * count), monetary (exact-decimal purchase value sum), each bucketed
    * into quintiles (5 = best) with user_id tiebreaks, plus the
    * standard champion/at-risk/new/regular read of the (r, f) cell.
    * Shape: events reduce to one row per user FIRST (users ≪ events —
    * the same aggregate-then-rank posture as a6's risk ranking), and
    * each quintile comes from [[graft.functions.GlobalRank.withNtile]]
    * (range-partitioned ranks + SQL ntile arithmetic) rather than an
    * unpartitioned `ntile` window, so no single task ever sorts the
    * whole user base. Determinism: the monetary ranking key is the
    * exact DECIMAL sum, never a float. */
  val f15Rfm: Q = (s, dir) => {
    val ev = eventsWithDay(s, dir)
    val maxDay = ev.agg(max(col("day")).as("max_day"))
    val users = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(28,12)")).as("mon"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency", datediff(col("max_day"), col("last_day")).cast("long"))
    val gr = graft.functions.GlobalRank
    val scored = gr.withNtile(
      gr.withNtile(
        gr.withNtile(users, "r_score", 5, col("recency").desc, col("user_id")),
        "f_score", 5, col("freq").asc, col("user_id")),
      "m_score", 5, col("mon").asc, col("user_id"))
    scored
      .select(col("user_id"), col("recency"), col("freq").cast("long").as("freq"),
        q6(col("mon").cast("double")).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "recent")
          .otherwise("regular").as("segment"))
      .orderBy("user_id")
  }

  val f15RfmSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, CAST(ts AS DATE) AS day FROM events),
      |md AS (SELECT MAX(day) AS max_day FROM ev),
      |u AS (
      |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS freq,
      |    SUM(CAST(value AS DECIMAL(28,12))) AS mon
      |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (
      |  SELECT user_id,
      |    CAST(max_day - last_day AS BIGINT) AS recency, freq, mon,
      |    CAST(ntile(5) OVER (ORDER BY max_day - last_day DESC, user_id) AS BIGINT) AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY freq ASC, user_id) AS BIGINT) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY mon ASC, user_id) AS BIGINT) AS m_score
      |  FROM u CROSS JOIN md)
      |SELECT user_id, recency, CAST(freq AS BIGINT) AS freq,
      |  floor(CAST(mon AS DOUBLE) * 1e6 + 0.5) / 1e6 AS monetary,
      |  r_score, f_score, m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score >= 4 AND f_score <= 2 THEN 'recent'
      |       ELSE 'regular' END AS segment
      |FROM r ORDER BY user_id""".stripMargin

  /** F18: market-basket association rules over order contents — for
    * every unordered brand pair bought together in ≥5 orders: support,
    * both conditional confidences, and lift. The canonical
    * co-occurrence mining shape: baskets reduce to DISTINCT
    * (order, brand) first (so the pair join fans out by the per-order
    * brand count — bounded small — never by line count), pairs come
    * from ONE keyed self-join on the order key, and the brand marginals
    * broadcast back onto the ~|brands|² pair aggregate. Counts stay
    * integers; each ratio is one IEEE chain on exact counts; the top-20
    * selection orders by the quantized lift with a total (a,b)
    * tiebreak, so both engines cut the same boundary.
    *
    * The distinct (order, brand) frame feeds four consumers (the order
    * count, the brand marginals, both sides of the pair self-join) and
    * costs a join plus a wide distinct to rebuild, so it is built once,
    * through [[Graft.materializeDisk]]: at the sf10 replica it is ~40 M
    * rows, which as heap checkpoint blocks drive full GCs
    * (`bench/bench_sf10_f18_ab_r11.json`). */
  val f18AssocRules: Q = (s, dir) => {
    val items = Graft.materializeDisk(
      Graft.table(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(broadcast(Graft.table(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct())
    val n = items.select("okey").distinct().count()
    val cnt = items.groupBy("brand").agg(count(lit(1)).as("c"))
    val a = items.as("a"); val b = items.as("b")
    val pairs = a.join(b, col("a.okey") === col("b.okey") &&
        col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("brand_a"), col("b.brand").as("brand_b"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= 5)
    pairs
      .join(broadcast(cnt.select(col("brand").as("brand_a"), col("c").as("ca"))), "brand_a")
      .join(broadcast(cnt.select(col("brand").as("brand_b"), col("c").as("cb"))), "brand_b")
      .select(col("brand_a"), col("brand_b"),
        col("nab").cast("long").as("n_both"),
        q6(col("nab").cast("double") / lit(n.toDouble)).as("support"),
        q6(col("nab").cast("double") / col("ca")).as("conf_a_b"),
        q6(col("nab").cast("double") / col("cb")).as("conf_b_a"),
        q6(col("nab").cast("double") * lit(n.toDouble) /
          (col("ca").cast("double") * col("cb").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(20)
  }

  val f18AssocRulesSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT COUNT(DISTINCT okey) AS n FROM items),
      |cnt AS (SELECT brand, COUNT(*) AS c FROM items GROUP BY brand),
      |pairs AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS nab
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.brand < b.brand
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |SELECT brand_a, brand_b, CAST(nab AS BIGINT) AS n_both,
      |  floor(CAST(nab AS DOUBLE) / CAST(n.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS support,
      |  floor(CAST(nab AS DOUBLE) / ca.c * 1e6 + 0.5) / 1e6 AS conf_a_b,
      |  floor(CAST(nab AS DOUBLE) / cb.c * 1e6 + 0.5) / 1e6 AS conf_b_a,
      |  floor(CAST(nab AS DOUBLE) * CAST(n.n AS DOUBLE) /
      |    (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lift
      |FROM pairs
      |JOIN cnt ca ON ca.brand = pairs.brand_a
      |JOIN cnt cb ON cb.brand = pairs.brand_b
      |CROSS JOIN n
      |ORDER BY lift DESC, brand_a, brand_b
      |LIMIT 20""".stripMargin

  /** F19: Kaplan-Meier survival over user lifetimes — S(t) = Π_{tᵢ≤t}
    * (1 − dᵢ/nᵢ) with right-censoring: a user's lifetime is last−first
    * event day; users still active in the final week are CENSORED
    * (they leave the risk set without counting as churn) — the
    * estimator every retention curve should be but plain "% retained"
    * is not. Lifetime = first event → last PURCHASE (the sparse
    * commitment signal; the dense view/click stream would make every
    * user look alive through the end and the curve vacuous); users who
    * never purchased are excluded up front. The lifetime table reduces
    * to one row per user, then one
    * row per distinct lifetime (dᵢ churns, cᵢ censored, nᵢ at risk
    * from a reverse cumulative sum); the survival product is a
    * SEQUENTIAL recurrence over the ≤|lifetimes| event rows — each
    * factor is one exact division, multiplied in ascending-time order
    * through the same IEEE chain on both engines (kernel vs recursive
    * CTE), never exp(Σln). */
  val f19KaplanMeier: Q = (s, dir) => {
    import s.implicits._
    val ev = eventsWithDay(s, dir)
    val life = Graft.materialize(
      ev.groupBy("user_id")
        .agg(min(col("day")).as("first_day"),
          max(when(col("event_type") === "purchase", col("day"))).as("last_day"))
        .filter(col("last_day").isNotNull)
        .crossJoin(broadcast(ev.agg(max(col("day")).as("end_day"))))
        .select(
          datediff(col("last_day"), col("first_day")).cast("long").as("t"),
          (col("last_day") <= date_sub(col("end_day"), 7)).cast("long").as("churned")))
    val byT = life.groupBy("t")
      .agg(sum(col("churned")).as("d"), count(lit(1)).as("all_t"))
    val atRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byT
      .withColumn("n_risk", sum(col("all_t")).over(atRisk))
      .filter(col("d") > 0)
      .select(col("t"), col("d").cast("long"), col("n_risk").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_ => 0)
      .flatMapSortedGroups(col("t")) { (_, it) =>
        var surv = 1.0
        it.map { p =>
          surv = surv * (1.0 - p._2.toDouble / p._3)
          (p._1, p._2, p._3, surv)
        }
      }
      .toDF("t_days", "d_churned", "n_risk", "survival")
      .select(col("t_days"), col("d_churned"), col("n_risk"),
        q6(col("survival")).as("survival"))
      .orderBy("t_days")
  }

  val f19KaplanMeierSql: String =
    """WITH RECURSIVE life AS (
      |  SELECT user_id,
      |    date_diff('day', MIN(CAST(ts AS DATE)),
      |      MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)) AS t,
      |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) <=
      |      (SELECT MAX(CAST(ts AS DATE)) - INTERVAL 7 DAY FROM events) AS BIGINT)
      |      AS churned
      |  FROM events GROUP BY user_id
      |  HAVING MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) IS NOT NULL),
      |byt AS (
      |  SELECT t, SUM(churned) AS d, COUNT(*) AS all_t
      |  FROM life GROUP BY t),
      |risk AS (
      |  SELECT t, d,
      |    SUM(all_t) OVER (ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |  FROM byt),
      |ev AS (
      |  SELECT CAST(t AS BIGINT) AS t, CAST(d AS BIGINT) AS d,
      |    CAST(n_risk AS BIGINT) AS n_risk,
      |    row_number() OVER (ORDER BY t) AS rn
      |  FROM risk WHERE d > 0),
      |km AS (
      |  SELECT t, d, n_risk, rn,
      |    1.0 * (1.0 - CAST(d AS DOUBLE) / n_risk) AS surv
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT o.t, o.d, o.n_risk, o.rn,
      |    p.surv * (1.0 - CAST(o.d AS DOUBLE) / o.n_risk) AS surv
      |  FROM km p JOIN ev o ON o.rn = p.rn + 1)
      |SELECT t AS t_days, d AS d_churned, n_risk,
      |  floor(surv * 1e6 + 0.5) / 1e6 AS survival
      |FROM km ORDER BY t_days""".stripMargin

  def queries: Map[String, Q] = Map(
    "f19_kaplan_meier" -> f19KaplanMeier,
    "f18_assoc_rules" -> f18AssocRules,
    "f6_cohort" -> f6Cohort,
    "f9_stickiness" -> f9Stickiness,
    "f15_rfm" -> f15Rfm,
    "a21_seasonality" -> a21Seasonality,
  )

  def oracle: Map[String, String] = Map(
    "f19_kaplan_meier" -> f19KaplanMeierSql,
    "f18_assoc_rules" -> f18AssocRulesSql,
    "f6_cohort" -> f6CohortSql,
    "f9_stickiness" -> f9StickinessSql,
    "f15_rfm" -> f15RfmSql,
    "a21_seasonality" -> a21SeasonalitySql,
  )
}
