package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.ta.{Indicators, Technical}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Technical-indicator queries over the `events` series (user_id = series
  * key, ts = time axis, value = price): the EMA-recurrence family plus the
  * window-frame indicators the reference's data model implies
  * (technical.py ships SMA/returns; these are the standard next tier).
  *
  * Oracle notes:
  *  - EMA/MACD recurrences replay in DuckDB as recursive CTEs stepping
  *    rn → rn+1 per series; both sides compute α as CAST(2 AS DOUBLE)/(n+1)
  *    and the identical `α·x + (1−α)·e` double arithmetic, so values match
  *    bit-for-bit before the final ROUND (plain `2.0/21.0` would be DECIMAL
  *    division in DuckDB — a different constant).
  *  - Frame aggregates (avg/stddev/corr) drift at the last ulp between
  *    engines (different frame-summation association); ROUND(…, 6) on
  *    outputs — and 9 dp on RSI's inner averages — absorbs it.
  */
object IndicatorQueries {

  private val keys = Seq("user_id")
  private def order: Seq[Column] = Seq(col("ts"), col("event_id"))

  private val ordCte =
    """WITH RECURSIVE ord AS (
      |  SELECT event_id, user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events)""".stripMargin

  /** I1: EMA(20) per series (recurrence kernel). */
  val i1Ema: Q = (s, dir) =>
    Indicators.ema(Graft.events(s, dir), 20)
      .select(col("event_id"), col("user_id"), round(col("ema"), 6).as("ema"))
      .orderBy("user_id", "event_id")

  val i1EmaSql: String = {
    val a = "(CAST(2 AS DOUBLE)/21)"
    ordCte +
      s""",
        |ema AS (
        |  SELECT user_id, rn, event_id, value AS e FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.event_id,
        |         $a * o.value + (1 - $a) * p.e
        |  FROM ema p JOIN ord o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
        |SELECT event_id, user_id, ROUND(e, 6) AS ema
        |FROM ema ORDER BY user_id, event_id""".stripMargin
  }

  /** I2: MACD(12, 26, 9) per series — three chained EMA recurrences in one
    * kernel pass (fast, slow, and the signal EMA over their difference). */
  val i2Macd: Q = (s, dir) =>
    Indicators.macd(Graft.events(s, dir))
      .select(col("event_id"), col("user_id"),
        round(col("macd"), 6).as("macd"),
        round(col("signal"), 6).as("signal"),
        round(col("hist"), 6).as("hist"))
      .orderBy("user_id", "event_id")

  val i2MacdSql: String = {
    val aF = "(CAST(2 AS DOUBLE)/13)"
    val aS = "(CAST(2 AS DOUBLE)/27)"
    val aG = "(CAST(2 AS DOUBLE)/10)"
    val ef = s"$aF * o.value + (1 - $aF) * p.ef"
    val es = s"$aS * o.value + (1 - $aS) * p.es"
    ordCte +
      s""",
        |m AS (
        |  SELECT user_id, rn, event_id,
        |         value AS ef, value AS es, CAST(0 AS DOUBLE) AS sig
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.event_id,
        |         $ef AS ef,
        |         $es AS es,
        |         $aG * (($ef) - ($es)) + (1 - $aG) * p.sig AS sig
        |  FROM m p JOIN ord o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
        |SELECT event_id, user_id,
        |  ROUND(ef - es, 6) AS macd,
        |  ROUND(sig, 6) AS signal,
        |  ROUND((ef - es) - sig, 6) AS hist
        |FROM m ORDER BY user_id, event_id""".stripMargin
  }

  /** I3: Bollinger(20, 2) bands, null warm-up like SMA. */
  val i3Bollinger: Q = (s, dir) => {
    val (mid, up, lo) = Indicators.bollinger(col("value"), 20, 2.0, keys, order)
    Graft.events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(mid, 6).as("mid"), round(up, 6).as("upper"), round(lo, 6).as("lower"))
      .orderBy("user_id", "event_id")
  }

  val i3BollingerSql: String = ordCte.replace("WITH RECURSIVE ", "WITH ") +
    """,
      |b AS (
      |  SELECT event_id, user_id, rn,
      |    AVG(value) OVER w AS mid,
      |    STDDEV_SAMP(value) OVER w AS sd
      |  FROM ord
      |  WINDOW w AS (PARTITION BY user_id ORDER BY rn
      |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id,
      |  CASE WHEN rn >= 20 THEN ROUND(mid, 6) END AS mid,
      |  CASE WHEN rn >= 20 THEN ROUND(mid + 2 * sd, 6) END AS upper,
      |  CASE WHEN rn >= 20 THEN ROUND(mid - 2 * sd, 6) END AS lower
      |FROM b ORDER BY user_id, event_id""".stripMargin

  /** I4: Cutler RSI(14) — simple-average gains/losses over the last 14
    * changes; 100 on zero average loss. */
  val i4Rsi: Q = (s, dir) =>
    Graft.events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(Indicators.rsiCutler(col("value"), 14, keys, order), 6).as("rsi"))
      .orderBy("user_id", "event_id")

  val i4RsiSql: String = ordCte.replace("WITH RECURSIVE ", "WITH ") +
    """,
      |d AS (
      |  SELECT event_id, user_id, rn,
      |    value - lag(value) OVER (PARTITION BY user_id ORDER BY rn) AS diff
      |  FROM ord),
      |g AS (
      |  SELECT event_id, user_id, rn,
      |    CASE WHEN diff IS NULL THEN NULL
      |         WHEN diff > 0 THEN diff ELSE CAST(0 AS DOUBLE) END AS gain,
      |    CASE WHEN diff IS NULL THEN NULL
      |         WHEN diff < 0 THEN -diff ELSE CAST(0 AS DOUBLE) END AS loss
      |  FROM d),
      |a AS (
      |  SELECT event_id, user_id, rn,
      |    ROUND(AVG(gain) OVER w, 9) AS ag,
      |    ROUND(AVG(loss) OVER w, 9) AS al
      |  FROM g
      |  WINDOW w AS (PARTITION BY user_id ORDER BY rn
      |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id,
      |  CASE WHEN rn >= 15 THEN
      |    ROUND(CASE WHEN al = 0 THEN CAST(100 AS DOUBLE)
      |               ELSE 100 - 100 / (1 + ag / al) END, 6)
      |  END AS rsi
      |FROM a ORDER BY user_id, event_id""".stripMargin

  /** I5: maximum drawdown per series (min of value/running-peak − 1).
    * Floor-grid display snap (not round/ROUND): the ratio−1 chain lands
    * on virtual 6-dp ties where engine ROUNDs disagree — i6's identical
    * shape was caught by the sf1-jitter gate (1 row in 1e6). */
  val i5Drawdown: Q = (s, dir) =>
    Graft.events(s, dir)
      .withColumn("dd", Indicators.drawdown(col("value"), keys, order))
      .groupBy("user_id")
      .agg(q6(min(col("dd"))).as("max_drawdown"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  val i5DrawdownSql: String =
    """WITH dd AS (
      |  SELECT user_id,
      |    value / MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - 1 AS dd
      |  FROM events)
      |SELECT user_id, FLOOR(MIN(dd) * 1e6 + 0.5) / 1e6 AS max_drawdown, COUNT(*) AS n
      |FROM dd GROUP BY user_id ORDER BY user_id""".stripMargin

  /** I6: cumulative simple return from each series start. Floor-grid
    * snap on both sides (identical IEEE chain): the sf1-jitter gate
    * caught the round()/ROUND() pair disagreeing on one virtual tie
    * (−0.8959375) out of 1 M rows — the exact divergence class the r7
    * numeric policy bans. */
  val i6CumReturn: Q = (s, dir) =>
    Graft.events(s, dir)
      .select(col("event_id"), col("user_id"),
        q6(Indicators.cumReturn(col("value"), keys, order)).as("cum_ret"))
      .orderBy("user_id", "event_id")

  val i6CumReturnSql: String =
    """SELECT event_id, user_id,
      |  FLOOR((value / first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) * 1e6 + 0.5) / 1e6 AS cum_ret
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** I7: rolling lag-1 autocorrelation (30-row frame) per series. */
  val i7RollingAutocorr: Q = (s, dir) => {
    val ac = Indicators.withRollingAutocorr(
      Graft.events(s, dir), "value", 30, keys, order, "autocorr")
    ac.select(col("event_id"), col("user_id"),
        round(when(isnan(col("autocorr")), lit(null)).otherwise(col("autocorr")), 6)
          .as("autocorr"))
      .orderBy("user_id", "event_id")
  }

  val i7RollingAutocorrSql: String = ordCte.replace("WITH RECURSIVE ", "WITH ") +
    """,
      |p AS (
      |  SELECT event_id, user_id, rn, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY rn) AS prev
      |  FROM ord),
      |c AS (
      |  SELECT event_id, user_id, rn,
      |    CORR(value, prev) OVER (PARTITION BY user_id ORDER BY rn
      |                            ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ac
      |  FROM p)
      |SELECT event_id, user_id,
      |  CASE WHEN rn >= 31 THEN ROUND(ac, 6) END AS autocorr
      |FROM c ORDER BY user_id, event_id""".stripMargin

  /** I12: RiskMetrics EWMA volatility — σ²_t = λ·σ²_{t−1} + (1−λ)·r²_t
    * with λ = 0.94 over log returns, reported as √σ². The same
    * recurrence family as EMA (ema over r² with α = 1−λ, seeded at the
    * first r²), so it reuses the [[Indicators.ema]] kernel on a derived
    * input; the oracle replays the recurrence as a recursive CTE like
    * i1/i2. */
  val i12EwmaVol: Q = (s, dir) => {
    val rets = Graft.events(s, dir)
      .withColumn("ret", Technical.logReturnStrict(col("value"), keys, order))
      .filter(col("ret").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("ret") * col("ret")).as("value"))
    Indicators.emaAlpha(rets, 1.0 - 0.94) // α = 1−λ over squared returns
      .select(col("event_id"), col("user_id"),
        round(sqrt(col("ema")), 9).as("ewma_vol"))
      .orderBy("user_id", "event_id")
  }

  val i12EwmaVolSql: String = {
    val a = "(CAST(1 AS DOUBLE) - 0.94)"
    """WITH RECURSIVE r AS (
      |  SELECT event_id, user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |    ts
      |  FROM events),
      |rr AS (
      |  SELECT event_id, user_id,
      |    LN(value / prev) * LN(value / prev) AS r2,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM r WHERE prev IS NOT NULL AND prev > 0 AND value > 0),
      |ew AS (
      |  SELECT user_id, rn, event_id, r2 AS e FROM rr WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.rn, o.event_id,
      |         ALPHA * o.r2 + (1 - ALPHA) * p.e
      |  FROM ew p JOIN rr o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
      |SELECT event_id, user_id, ROUND(SQRT(e), 9) AS ewma_vol
      |FROM ew ORDER BY user_id, event_id""".stripMargin
      .replace("ALPHA", a)
  }

  /** I14: Holt double-exponential smoothing (α=0.3, β=0.1) per series —
    * level + trend states and the one-step forecast (level + trend).
    * The 2-state recurrence sibling of I1's EMA; same per-series kernel
    * execution, same recursive-CTE oracle replay (the constants are
    * written as CAST(k AS DOUBLE)/10 on both engines so the smoothing
    * factors are the identical doubles). */
  val i14Holt: Q = (s, dir) =>
    Indicators.holt(Graft.events(s, dir), 3.0 / 10, 1.0 / 10)
      // floor-grid, not round(): Spark rounds the exact binary double
      // while DuckDB rounds a float multiply — states within one ULP of
      // the 1e-6 half boundary split between engines (40/1M rows at the
      // sf1 gate). floor(x*1e6+0.5)/1e6 is the identical IEEE chain on
      // both sides.
      .select(col("event_id"), col("user_id"),
        q6(col("level")).as("level"),
        q6(col("trend")).as("trend"),
        q6(col("level") + col("trend")).as("forecast"))
      .orderBy("user_id", "event_id")

  val i14HoltSql: String = {
    val la = "(CAST(3 AS DOUBLE)/10)"
    val bb = "(CAST(1 AS DOUBLE)/10)"
    val lNew = s"$la * o.value + (1 - $la) * (p.l + p.b)"
    ordCte +
      s""",
        |h AS (
        |  SELECT user_id, rn, event_id, value AS l, CAST(0 AS DOUBLE) AS b
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.event_id,
        |         $lNew AS l,
        |         $bb * (($lNew) - p.l) + (1 - $bb) * p.b AS b
        |  FROM h p JOIN ord o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
        |SELECT event_id, user_id,
        |  FLOOR(l * 1e6 + 0.5) / 1e6 AS level,
        |  FLOOR(b * 1e6 + 0.5) / 1e6 AS trend,
        |  FLOOR((l + b) * 1e6 + 0.5) / 1e6 AS forecast
        |FROM h ORDER BY user_id, event_id""".stripMargin
  }

  /** I19: additive Holt-Winters triple exponential smoothing over
    * daily closes — level + trend + a period-7 seasonal ring (α=0.3,
    * β=0.1, γ=0.2): the seasonality-aware forecaster i14's
    * double-smoothing cannot express. Nine state variables
    * (l, t, S₁..S₇), initialized at day 7 from the exact-decimal frame
    * mean (L₀ = Σdecimal(y₁..y₇)/7, T₀ = 0, Sᵢ = yᵢ − L₀), then one
    * data-dependent update per day; `fitted` is the one-step-ahead
    * forecast L+T+S_{t−7} BEFORE observing day t. Runs as the
    * sorted-group kernel (one series shuffle, O(period) state); the
    * oracle replays the full 9-column state vector through a recursive
    * CTE, shifting the seasonal ring by column rotation — every step
    * is the same IEEE chain on both engines. */
  val i19HoltWinters: Q = (s, dir) => {
    import s.implicits._
    val al = 3.0 / 10; val be = 1.0 / 10; val ga = 2.0 / 10; val m = 7
    PatternQueries.dailyBars(s, dir)
      .select(col("user_id").cast("long"), col("day").cast("string"),
        col("close").cast("double"))
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("day")) { (uid, it) =>
        val head = new Array[Double](m)
        var n = 0
        while (n < m && it.hasNext) { head(n) = it.next()._3; n += 1 }
        if (n < m) Iterator.empty
        else {
          val dsum = head
            .map(y => BigDecimal(y).setScale(12, BigDecimal.RoundingMode.HALF_UP))
            .sum
          var l = dsum.toDouble / m
          var t = 0.0
          val sea = head.map(_ - l)
          var idx = 0
          it.map { p =>
            val y = p._3
            val sOld = sea(idx)
            val fitted = l + t + sOld
            val lNew = al * (y - sOld) + (1 - al) * (l + t)
            val tNew = be * (lNew - l) + (1 - be) * t
            val sNew = ga * (y - lNew) + (1 - ga) * sOld
            l = lNew; t = tNew; sea(idx) = sNew; idx = (idx + 1) % m
            (uid, p._2, l, t, sNew, fitted)
          }
        }
      }
      .toDF("user_id", "day", "level", "trend", "seasonal", "fitted")
      .select(col("user_id"), to_date(col("day")).as("day"),
        q6(col("level")).as("level"), q6(col("trend")).as("trend"),
        q6(col("seasonal")).as("seasonal"), q6(col("fitted")).as("fitted"))
      .orderBy("user_id", "day")
  }

  val i19HoltWintersSql: String = {
    val a = "(CAST(3 AS DOUBLE)/10)"
    val b = "(CAST(1 AS DOUBLE)/10)"
    val g = "(CAST(2 AS DOUBLE)/10)"
    val lNew = s"$a * (o.close - p.s1) + (1 - $a) * (p.l + p.t)"
    graft.operators.PatternQueries.barsCte.replace("WITH ", "WITH RECURSIVE ") +
      s""",
        |r AS (
        |  SELECT user_id, day, close,
        |    row_number() OVER w AS rn,
        |    CAST(SUM(CAST(close AS DECIMAL(28,12)))
        |      OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 7 AS l0,
        |    lag(close, 6) OVER w AS y1, lag(close, 5) OVER w AS y2,
        |    lag(close, 4) OVER w AS y3, lag(close, 3) OVER w AS y4,
        |    lag(close, 2) OVER w AS y5, lag(close, 1) OVER w AS y6
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |h AS (
        |  SELECT user_id, rn, day, l0 AS l, CAST(0 AS DOUBLE) AS t,
        |    y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3, y4 - l0 AS s4,
        |    y5 - l0 AS s5, y6 - l0 AS s6, close - l0 AS s7,
        |    CAST(NULL AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
        |  FROM r WHERE rn = 7
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.day,
        |    $lNew AS l,
        |    $b * (($lNew) - p.l) + (1 - $b) * p.t AS t,
        |    p.s2, p.s3, p.s4, p.s5, p.s6, p.s7,
        |    $g * (o.close - ($lNew)) + (1 - $g) * p.s1 AS s7,
        |    $g * (o.close - ($lNew)) + (1 - $g) * p.s1 AS seasonal,
        |    p.l + p.t + p.s1 AS fitted
        |  FROM h p JOIN r o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
        |SELECT user_id, day,
        |  floor(l * 1e6 + 0.5) / 1e6 AS level,
        |  floor(t * 1e6 + 0.5) / 1e6 AS trend,
        |  floor(seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
        |  floor(fitted * 1e6 + 0.5) / 1e6 AS fitted
        |FROM h WHERE rn > 7 ORDER BY user_id, day""".stripMargin
  }

  /** I20: Kaufman adaptive moving average — the smoothing constant
    * ADAPTS per bar: efficiency ratio ER = |net 10-day move| / Σ|daily
    * moves| (1 on a trend, →0 in chop), SC = (ER·(2/3 − 2/31) +
    * 2/31)², kamaₜ = kamaₜ₋₁ + SC·(yₜ − kamaₜ₋₁). Split by what each
    * engine does best: ER/SC are pure WINDOW math (daily |Δ| snaps to
    * DECIMAL so the 10-bar frame sum is order-independent, then one
    * shared IEEE chain), and only the 1-state recurrence runs in the
    * kernel — the window output feeds flatMapSortedGroups on the SAME
    * series partitioning, so no extra shuffle. Flat windows (Σ|Δ|=0)
    * define ER=1. Seeded kama = close at the first full-window bar
    * (rn=11); the oracle replays the recurrence rn→rn+1. */
  val i20Kama: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val fast = 2.0 / 3; val slow = 2.0 / 31
    val enriched = PatternQueries.dailyBars(s, dir)
      .withColumn("ad",
        abs(col("close") - lag(col("close"), 1).over(w)).cast("decimal(28,12)"))
      .withColumn("rn", row_number().over(w))
      .withColumn("net", abs(col("close") - lag(col("close"), 10).over(w)))
      .withColumn("vol",
        sum(col("ad")).over(w.rowsBetween(-9, 0)).cast("double"))
      .filter(col("rn") >= 11)
      .withColumn("er",
        when(col("vol") > 0, col("net") / col("vol")).otherwise(lit(1.0)))
      .withColumn("sc",
        pow(col("er") * lit(fast - slow) + lit(slow), 2))
      .select(col("user_id").cast("long"), col("day").cast("string"),
        col("close").cast("double"), col("sc").cast("double"))
    enriched.as[(Long, String, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("day")) { (uid, it) =>
        var kama = 0.0
        it.zipWithIndex.map { case (p, i) =>
          kama = if (i == 0) p._3 else kama + p._4 * (p._3 - kama)
          (uid, p._2, kama)
        }
      }
      .toDF("user_id", "day", "kama")
      .select(col("user_id"), to_date(col("day")).as("day"),
        q6(col("kama")).as("kama"))
      .orderBy("user_id", "day")
  }

  val i20KamaSql: String = {
    val fs = "(CAST(2 AS DOUBLE)/3 - CAST(2 AS DOUBLE)/31)"
    val sl = "(CAST(2 AS DOUBLE)/31)"
    graft.operators.PatternQueries.barsCte.replace("WITH ", "WITH RECURSIVE ") +
      s""",
        |r0 AS (
        |  SELECT user_id, day, close,
        |    row_number() OVER w AS rn,
        |    CAST(ABS(close - lag(close, 1) OVER w) AS DECIMAL(28,12)) AS ad,
        |    ABS(close - lag(close, 10) OVER w) AS net
        |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |r AS (
        |  SELECT user_id, day, close, rn,
        |    CASE WHEN CAST(SUM(ad) OVER (PARTITION BY user_id ORDER BY rn
        |        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) > 0
        |      THEN net / CAST(SUM(ad) OVER (PARTITION BY user_id ORDER BY rn
        |        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      ELSE CAST(1 AS DOUBLE) END AS er
        |  FROM r0 WHERE rn >= 2),
        |e AS (
        |  SELECT user_id, day, close, rn,
        |    POWER(er * $fs + $sl, 2) AS sc
        |  FROM r WHERE rn >= 11),
        |k AS (
        |  SELECT user_id, rn, day, close AS kama FROM e WHERE rn = 11
        |  UNION ALL
        |  SELECT o.user_id, o.rn, o.day, p.kama + o.sc * (o.close - p.kama)
        |  FROM k p JOIN e o ON o.user_id = p.user_id AND o.rn = p.rn + 1)
        |SELECT user_id, day, floor(kama * 1e6 + 0.5) / 1e6 AS kama
        |FROM k ORDER BY user_id, day""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "i20_kama" -> i20Kama,
    "i19_holt_winters" -> i19HoltWinters,
    "i12_ewma_vol" -> i12EwmaVol,
    "i14_holt" -> i14Holt,
    "i1_ema" -> i1Ema,
    "i2_macd" -> i2Macd,
    "i3_bollinger" -> i3Bollinger,
    "i4_rsi" -> i4Rsi,
    "i5_drawdown" -> i5Drawdown,
    "i6_cum_return" -> i6CumReturn,
    "i7_rolling_autocorr" -> i7RollingAutocorr,
  )

  def oracle: Map[String, String] = Map(
    "i20_kama" -> i20KamaSql,
    "i19_holt_winters" -> i19HoltWintersSql,
    "i12_ewma_vol" -> i12EwmaVolSql,
    "i14_holt" -> i14HoltSql,
    "i1_ema" -> i1EmaSql,
    "i2_macd" -> i2MacdSql,
    "i3_bollinger" -> i3BollingerSql,
    "i4_rsi" -> i4RsiSql,
    "i5_drawdown" -> i5DrawdownSql,
    "i6_cum_return" -> i6CumReturnSql,
    "i7_rolling_autocorr" -> i7RollingAutocorrSql,
  )
}
