package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.analytics.Patterns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding-window pattern queries (SURVEY.md §2.5 W4-W6, §2.9 X4) over
  * events: streaks on the raw per-user value series (w=20), gap-ups on
  * daily OHLC bars synthesized per (user, day) — the bars build itself
  * exercises the first/last/min/max grouped aggregation (min_by/max_by).
  */
object PatternQueries {

  private val keys = Seq("user_id")
  private def order: Seq[Column] = Seq(col("ts"), col("event_id"))

  /** Daily OHLC bars per user (open/close = first/last value by ts).
    *
    * Partitioned by user_id ALONE (not the (user_id, day) grouping key):
    * hash-partitioning on a subset of the grouping keys satisfies the
    * aggregation's distribution, and every bars consumer (ATR,
    * stochastic, OBV, gap scans, momentum returns) windows by user_id
    * next — so the whole family runs on ONE shuffle instead of
    * groupBy-shuffle + window-reshuffle. */
  def dailyBars(s: SparkSession, dir: String): DataFrame =
    Graft.events(s, dir)
      .withColumn("day", to_date(expr("timestamp_micros(ts div 1000)")))
      .repartition(col("user_id"))
      .groupBy("user_id", "day")
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_ticks"))

  private[operators] val barsCte =
    """WITH bars AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    arg_min(value, ts) AS open, max(value) AS high,
      |    min(value) AS low, arg_max(value, ts) AS close,
      |    count(*) AS n_ticks
      |  FROM events GROUP BY 1, 2)""".stripMargin

  private val upsCte =
    """WITH ups AS (
      |  SELECT user_id, event_id, ts,
      |    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n,
      |    CASE WHEN row_number() OVER w = 1 THEN 0
      |         WHEN value > lag(value) OVER w THEN 1 ELSE 0 END AS up
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |win AS (
      |  SELECT user_id, rn, n,
      |    string_agg(CAST(up AS VARCHAR), '')
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN CURRENT ROW AND 19 FOLLOWING) AS s
      |  FROM ups),
      |runs AS (
      |  SELECT user_id, unnest(regexp_extract_all(s, '1+')) AS run
      |  FROM win WHERE rn <= GREATEST(1, n - 20 + 1))""".stripMargin

  /** X4/W4: window-clipped streak histogram, w=20. */
  val x4StreakHist: Q = (s, dir) =>
    Patterns.streakHistogram(Graft.events(s, dir), col("value"), keys, order, 20)
      .select(col("user_id"), col("streak_len").cast("long").as("streak_len"),
        col("freq"))
      .orderBy("user_id", "streak_len")

  val x4StreakHistSql: String = upsCte +
    """
      |SELECT user_id, length(run) AS streak_len, count(*) AS freq
      |FROM runs GROUP BY user_id, length(run)
      |ORDER BY user_id, streak_len""".stripMargin

  /** X4 under a second catalog name, with the same oracle SQL; the
    * catalog keeps its 246 declared queries (OracleParitySpec). */
  val x4bStreakHistRuns: Q = x4StreakHist

  /** W4 scalars: max_streak / total_ups / total_windows per user. */
  val w4StreakStats: Q = (s, dir) =>
    Patterns.streakStats(Graft.events(s, dir), col("value"), keys, order, 20)
      .select(col("user_id"), col("max_streak").cast("long").as("max_streak"),
        col("total_ups").cast("long").as("total_ups"),
        col("total_windows").cast("long").as("total_windows"))
      .orderBy("user_id")

  val w4StreakStatsSql: String = upsCte +
    """,
      |tot AS (SELECT user_id, CAST(SUM(up) AS BIGINT) AS total_ups,
      |               GREATEST(1, count(*) - 20 + 1) AS total_windows
      |        FROM ups GROUP BY user_id),
      |mx AS (SELECT user_id, MAX(length(run)) AS max_streak
      |       FROM runs GROUP BY user_id)
      |SELECT t.user_id, COALESCE(m.max_streak, 0) AS max_streak,
      |       t.total_ups, t.total_windows
      |FROM tot t LEFT JOIN mx m ON t.user_id = m.user_id
      |ORDER BY t.user_id""".stripMargin

  /** W5: gap-ups per sliding window (w=5) over daily bars. */
  val w5GapWindows: Q = (s, dir) =>
    Patterns.gapWindows(dailyBars(s, dir), col("open"), col("high"),
      keys, Seq(col("day")), 5)
      .select(col("user_id"), col("rn").cast("long").as("rn"), col("day"),
        col("gaps_in_window").cast("long").as("gaps_in_window"))
      .orderBy("user_id", "rn")

  val w5GapWindowsSql: String = barsCte +
    """,
      |g AS (
      |  SELECT user_id, day,
      |    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n,
      |    CASE WHEN lag(high) OVER w IS NOT NULL AND open > lag(high) OVER w
      |         THEN 1 ELSE 0 END AS gap
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |wins AS (
      |  SELECT user_id, day, rn, n,
      |    CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY day
      |                   ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT) AS gaps_in_window
      |  FROM g)
      |SELECT user_id, rn, day, gaps_in_window FROM wins
      |WHERE rn <= GREATEST(1, n - 5 + 1)
      |ORDER BY user_id, rn""".stripMargin

  /** W5 scalars: total gap-ups + max per window, per user. */
  val w5GapStats: Q = (s, dir) =>
    Patterns.gapStats(dailyBars(s, dir), col("open"), col("high"),
      keys, Seq(col("day")), 5)
      .select(col("user_id"), col("total_gaps").cast("long").as("total_gaps"),
        col("max_gaps_in_window").cast("long").as("max_gaps_in_window"))
      .orderBy("user_id")

  val w5GapStatsSql: String = barsCte +
    """,
      |g AS (
      |  SELECT user_id, day,
      |    row_number() OVER w AS rn, count(*) OVER (PARTITION BY user_id) AS n,
      |    CASE WHEN lag(high) OVER w IS NOT NULL AND open > lag(high) OVER w
      |         THEN 1 ELSE 0 END AS gap
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |wins AS (
      |  SELECT user_id, rn, n,
      |    CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY day
      |                   ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS BIGINT) AS gaps_in_window
      |  FROM g)
      |SELECT g2.user_id, g2.total_gaps, w2.max_gaps_in_window
      |FROM (SELECT user_id, CAST(SUM(gap) AS BIGINT) AS total_gaps FROM g GROUP BY user_id) g2
      |JOIN (SELECT user_id, MAX(gaps_in_window) AS max_gaps_in_window
      |      FROM wins WHERE rn <= GREATEST(1, n - 5 + 1) GROUP BY user_id) w2
      |  ON g2.user_id = w2.user_id
      |ORDER BY g2.user_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "x4_streak_hist" -> x4StreakHist,
    "x4b_streak_hist_runs" -> x4bStreakHistRuns,
    "w4_streak_stats" -> w4StreakStats,
    "w5_gap_windows" -> w5GapWindows,
    "w5_gap_stats" -> w5GapStats,
  )

  def oracle: Map[String, String] = Map(
    "x4_streak_hist" -> x4StreakHistSql,
    "x4b_streak_hist_runs" -> x4StreakHistSql,
    "w4_streak_stats" -> w4StreakStatsSql,
    "w5_gap_windows" -> w5GapWindowsSql,
    "w5_gap_stats" -> w5GapStatsSql,
  )
}
