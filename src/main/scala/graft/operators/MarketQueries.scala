package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.ta.Indicators
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bar-level market analytics: OHLC-bar indicators (ATR, stochastic
  * oscillator, on-balance volume) over the per-(user, day) bars that
  * [[PatternQueries.dailyBars]] synthesizes, running VWAP over lineitem,
  * cross-sectional momentum deciles, and rolling pair correlation —
  * the natural extension of the reference's indicator surface
  * (algorithms/technical.py, algorithms/similarity.py:100-193) to
  * bar/portfolio granularity.
  *
  * Scale shapes: every bar indicator is ONE shuffle (the groupBy building
  * bars) plus a per-series window — no additional exchange because the
  * window partitions by the same user_id key AQE already co-located.
  * VWAP is a single window over the lineitem scan. The momentum ranking
  * is two chained windows (per-series lag, then per-day ntile) — exactly
  * two shuffles at any scale. Rolling correlation joins two filtered
  * series on row position (broadcast-sized after the user filter).
  */
object MarketQueries {

  private val barKeys = Seq("user_id")
  private def barOrder: Seq[Column] = Seq(col("day"))
  private def barsW = Window.partitionBy("user_id").orderBy("day")

  /** One side of the aligned pair of w10, z1, z2 and x6: user `uid`'s
    * values as (pos, `name`), pos the row position in (ts, event_id)
    * order. */
  private def series(s: SparkSession, dir: String, uid: Int, name: String): DataFrame =
    Graft.events(s, dir).filter(col("user_id") === uid)
      .withColumn("pos", row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .select(col("pos"), col("value"))
      .withColumnRenamed("value", name)

  /** I8: ATR(14) (SMA-of-true-range) over daily bars. The frame average
    * runs as an exact decimal sum / 14 (window sums are segment-tree
    * reassociated in some engines — float policy, CoreQueries); the
    * plain-double production form is [[Indicators.atr]]. */
  val i8Atr: Q = (s, dir) =>
    PatternQueries.dailyBars(s, dir)
      .withColumn("tr",
        Indicators.trueRange(col("high"), col("low"), col("close"), barKeys, barOrder))
      .withColumn("atr", when(row_number().over(barsW) >= 14, round(
        sum(col("tr").cast("decimal(28,12)")).over(barsW.rowsBetween(-13, 0))
          .cast("double") / 14, 6)))
      .select("user_id", "day", "atr")
      .orderBy("user_id", "day")

  val i8AtrSql: String = PatternQueries.barsCte +
    """,
      |t AS (
      |  SELECT user_id, day, high, low,
      |    lag(close) OVER w AS prev, row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |tr AS (
      |  SELECT user_id, day, rn,
      |    CASE WHEN prev IS NULL THEN high - low
      |         ELSE GREATEST(high - low, ABS(high - prev), ABS(low - prev))
      |    END AS tr
      |  FROM t)
      |SELECT user_id, day,
      |  CASE WHEN rn >= 14 THEN
      |    CAST(CAST(CAST(SUM(CAST(tr AS DECIMAL(28,12)))
      |                 OVER (PARTITION BY user_id ORDER BY rn
      |                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |               AS DOUBLE) / 14 AS DECIMAL(38,6)) AS DOUBLE)
      |  END AS atr
      |FROM tr ORDER BY user_id, day""".stripMargin

  /** I9: stochastic oscillator — %K(14) and %D = SMA(3) of %K. A
    * flat 14-bar range yields null %K, and %D averages the non-null
    * %K values in its 3-bar frame (both sides share the convention).
    *
    * Numeric policy (IEEE-grid, see [[i11Vwap]]): the raw %K double is
    * already bit-identical cross-engine (min/max are exact, one multiply
    * + one divide in fixed order), so %K is snapped to a 9-dp integer
    * grid with `floor(k·1e9 + 0.5)` and %D averages those exact scaled
    * integers; displays quantize via `floor(x·1e6 + 0.5)/1e6`.
    * [[Indicators.stochasticK]] is the plain production form. */
  val i9Stochastic: Q = (s, dir) => {
    val frame = barsW.rowsBetween(-13, 0)
    val hh = max(col("high")).over(frame)
    val ll = min(col("low")).over(frame)
    val rn = row_number().over(barsW)
    val w3 = barsW.rowsBetween(-2, 0)
    PatternQueries.dailyBars(s, dir)
      .withColumn("k", when(rn >= 14 && hh =!= ll,
        lit(100.0) * (col("close") - ll) / (hh - ll)))
      .withColumn("k9", floor(col("k") * lit(1e9) + lit(0.5)))
      .withColumn("d", when(rn >= 16,
        sum(col("k9")).over(w3).cast("double") / count(col("k9")).over(w3) / lit(1e9)))
      .select(col("user_id"), col("day"),
        q6(col("k")).as("pct_k"), q6(col("d")).as("pct_d"))
      .orderBy("user_id", "day")
  }

  val i9StochasticSql: String = PatternQueries.barsCte +
    """,
      |r AS (
      |  SELECT user_id, day, close, row_number() OVER w AS rn,
      |    MAX(high) OVER (PARTITION BY user_id ORDER BY day
      |                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hh,
      |    MIN(low) OVER (PARTITION BY user_id ORDER BY day
      |                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS ll
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |k AS (
      |  SELECT user_id, day, rn,
      |    CASE WHEN rn >= 14 AND hh <> ll
      |         THEN 100 * (close - ll) / (hh - ll) END AS k
      |  FROM r),
      |k9 AS (SELECT user_id, day, rn, k, FLOOR(k * 1e9 + 0.5) AS k9 FROM k)
      |SELECT user_id, day,
      |  FLOOR(k * 1e6 + 0.5) / 1e6 AS pct_k,
      |  CASE WHEN rn >= 16 THEN
      |    FLOOR((SUM(k9) OVER w3 / COUNT(k9) OVER w3 / 1e9) * 1e6 + 0.5) / 1e6
      |  END AS pct_d
      |FROM k9
      |WINDOW w3 AS (PARTITION BY user_id ORDER BY rn
      |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  /** I10: on-balance volume over daily bars, volume = ticks per bar.
    * Integer math throughout — exact on both engines. */
  val i10Obv: Q = (s, dir) =>
    PatternQueries.dailyBars(s, dir)
      .withColumn("obv",
        Indicators.obv(col("close"), col("n_ticks"), barKeys, barOrder).cast("long"))
      .select("user_id", "day", "obv")
      .orderBy("user_id", "day")

  val i10ObvSql: String = PatternQueries.barsCte +
    """,
      |t AS (
      |  SELECT user_id, day, n_ticks,
      |    lag(close) OVER w AS prev, close
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day,
      |  CAST(SUM(CASE WHEN prev IS NULL THEN 0
      |                WHEN close > prev THEN n_ticks
      |                WHEN close < prev THEN -n_ticks ELSE 0 END)
      |       OVER (PARTITION BY user_id ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS BIGINT) AS obv
      |FROM t ORDER BY user_id, day""".stripMargin

  /** I11: running VWAP per part over lineitem (price = extendedprice,
    * qty = quantity), ordered by ship date.
    *
    * Numeric policy (IEEE-grid, not decimal): price·qty is an exact
    * 4-dp rational, so `floor(p·q·1e4 + 0.5)` recovers its exact scaled
    * integer from the double product — integer window sums are exact and
    * reassociation-proof on any engine. Quantities are integral, so
    * their double sum is exact too. The final 6-dp quantization is
    * `floor(x·1e6 + 0.5)/1e6` — pure IEEE arithmetic, bit-identical
    * cross-engine (decimal/round casts are NOT: Spark rounds the
    * shortest-string repr of a double, DuckDB its exact binary
    * expansion, and they disagree on virtual ties like x.xxxxxx5). */
  val i11Vwap: Q = (s, dir) => {
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val raw =
      (sum(floor(col("l_extendedprice") * col("l_quantity") * lit(1e4) + lit(0.5)))
        .over(w).cast("double") / lit(1e4)) /
      sum(col("l_quantity")).over(w)
    Graft.table(s, dir, "lineitem")
      .withColumn("vwap", q6(raw))
      .select("l_orderkey", "l_linenumber", "l_partkey", "vwap")
      .orderBy("l_partkey", "l_orderkey", "l_linenumber")
  }

  val i11VwapSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey,
      |  FLOOR((CAST(SUM(FLOOR(l_extendedprice * l_quantity * 1e4 + 0.5)) OVER w AS DOUBLE)
      |           / 1e4 / SUM(l_quantity) OVER w) * 1e6 + 0.5) / 1e6 AS vwap
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_partkey
      |             ORDER BY l_shipdate, l_orderkey, l_linenumber
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY l_partkey, l_orderkey, l_linenumber""".stripMargin

  /** I13: Commodity Channel Index CCI(20) over daily bars:
    * cci = (tp − SMA₂₀(tp)) / (0.015 · MD) with tp = (high+low+close)/3
    * and MD = mean |tp_i − SMA₂₀(tp_t)| over the same frame — the mean
    * deviation is taken from the CURRENT row's SMA, so it cannot be a
    * frame sum of precomputed deviations; the frame's tp values are
    * collected and folded per row instead.
    *
    * Numeric policy: SMA comes from exact scaled-integer frame sums; the
    * per-term deviations are snapped to the 1e-9 grid BEFORE summation,
    * so the fold is an integer sum — order-independent and bit-identical
    * on any engine regardless of how it folds the list. */
  val i13Cci: Q = (s, dir) => {
    val frame = barsW.rowsBetween(-19, 0)
    val rn = row_number().over(barsW)
    PatternQueries.dailyBars(s, dir)
      .withColumn("tp", (col("high") + col("low") + col("close")) / 3.0)
      .withColumn("tp9", floor(col("tp") * lit(1e9) + lit(0.5)))
      .withColumn("rn", rn)
      .withColumn("sma",
        sum(col("tp9")).over(frame).cast("double") / 20.0 / lit(1e9))
      .withColumn("arr", collect_list(col("tp")).over(frame))
      .withColumn("md",
        aggregate(col("arr"),
          lit(0L),
          (acc, x) => acc + floor(abs(x - col("sma")) * lit(1e9) + lit(0.5)))
          .cast("double") / 20.0 / lit(1e9))
      .withColumn("cci",
        when(col("rn") >= 20 && col("md") =!= 0.0,
          q6((col("tp") - col("sma")) / (lit(0.015) * col("md")))))
      .select("user_id", "day", "cci")
      .orderBy("user_id", "day")
  }

  val i13CciSql: String = PatternQueries.barsCte +
    """,
      |t AS (
      |  SELECT user_id, day, (high + low + close) / 3.0 AS tp
      |  FROM bars),
      |t9 AS (
      |  SELECT user_id, day, tp, FLOOR(tp * 1e9 + 0.5) AS tp9,
      |    row_number() OVER w AS rn
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |f AS (
      |  SELECT user_id, day, tp, rn,
      |    SUM(tp9) OVER w20 / 20.0 / 1e9 AS sma,
      |    list(tp) OVER w20 AS arr
      |  FROM t9
      |  WINDOW w20 AS (PARTITION BY user_id ORDER BY day
      |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT user_id, day, tp, rn, sma,
      |    list_sum(list_transform(arr, x -> FLOOR(ABS(x - sma) * 1e9 + 0.5)))
      |      / 20.0 / 1e9 AS md
      |  FROM f)
      |SELECT user_id, day,
      |  CASE WHEN rn >= 20 AND md <> 0
      |       THEN FLOOR((tp - sma) / (0.015 * md) * 1e6 + 0.5) / 1e6
      |  END AS cci
      |FROM m ORDER BY user_id, day""".stripMargin

  /** X5: cross-sectional momentum deciles — each day, rank every series
    * by its daily close-to-close return and bucket into ntile(10); emit
    * per-(day, decile) membership and mean return. The ranking key is
    * snapped to the 1e-9 IEEE grid (floor(x·1e9 + 0.5)/1e9, written
    * identically on both engines — pure IEEE ops, bit-identical) with a
    * user_id tiebreak: a round()/CAST(DECIMAL) pair would disagree on
    * virtual ties (x.xxxxxxxxx5) and flip decile membership. */
  val x5MomentumDecile: Q = (s, dir) =>
    PatternQueries.dailyBars(s, dir)
      .withColumn("ret",
        floor((col("close") / lag(col("close"), 1).over(barsW) - 1.0) * lit(1e9)
          + lit(0.5)) / lit(1e9))
      .filter(col("ret").isNotNull)
      .withColumn("decile", ntile(10).over(
        Window.partitionBy("day").orderBy(col("ret").desc, col("user_id"))).cast("long"))
      .groupBy("day", "decile")
      .agg(count(lit(1)).as("n"),
        round(sum(col("ret").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("avg_ret"))
      .orderBy("day", "decile")

  val x5MomentumDecileSql: String = PatternQueries.barsCte +
    """,
      |r AS (
      |  SELECT user_id, day,
      |    FLOOR((close / lag(close) OVER (PARTITION BY user_id ORDER BY day) - 1) * 1e9 + 0.5) / 1e9 AS ret
      |  FROM bars),
      |d AS (
      |  SELECT day, ret,
      |    ntile(10) OVER (PARTITION BY day ORDER BY ret DESC, user_id) AS decile
      |  FROM r WHERE ret IS NOT NULL)
      |SELECT day, CAST(decile AS BIGINT) AS decile,
      |  COUNT(*) AS n,
      |  CAST(CAST(CAST(SUM(CAST(ret AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS avg_ret
      |FROM d GROUP BY day, decile ORDER BY day, decile""".stripMargin

  /** W10: rolling 30-point correlation between two series (users 1 and 2)
    * aligned by row position — the rolling form of the reference's pairwise
    * Pearson (similarity.py:100-193). */
  val w10RollingCorr: Q = (s, dir) => {
    val joined = series(s, dir, 1, "a").join(series(s, dir, 2, "b"), "pos")
    val w = Window.orderBy("pos")
    // Spark corr yields NaN on a zero-variance frame where SQL engines
    // yield NULL — normalize to null (same guard as i7's autocorr).
    val rawCorr = corr(col("a"), col("b")).over(w.rowsBetween(-29, 0))
    joined
      .withColumn("c", when(row_number().over(w) >= 30,
        round(when(isnan(rawCorr), lit(null)).otherwise(rawCorr), 6)))
      .select(col("pos").cast("long").as("pos"), col("c").as("roll_corr"))
      .orderBy("pos")
  }

  val w10RollingCorrSql: String =
    """WITH s AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events WHERE user_id IN (1, 2)),
      |j AS (
      |  SELECT a.pos, a.value AS a, b.value AS b
      |  FROM s a JOIN s b ON a.pos = b.pos AND a.user_id = 1 AND b.user_id = 2)
      |SELECT CAST(pos AS BIGINT) AS pos,
      |  CASE WHEN row_number() OVER (ORDER BY pos) >= 30 THEN
      |    CAST(CAST(CORR(a, b) OVER (ORDER BY pos
      |                           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS DECIMAL(38,6)) AS DOUBLE)
      |  END AS roll_corr
      |FROM j ORDER BY pos""".stripMargin

  /** Z2: pairs-trading backtest with hysteresis — z1's spread z-score
    * driving a position STATE MACHINE: flat → short (+z > 2) / long
    * (−z > 2), held until |z| < 0.5 (two thresholds so the position
    * doesn't chatter at the entry boundary), P&L accruing
    * pos·Δspread per step. The state is data-dependent (a window
    * can't express "held until"), so the decision loop runs in the
    * sorted-group kernel — but unlike z1's display-only z, the
    * DECISION z here is built from exact decimal power sums
    * ((Σs, Σs²) over the 30-point frame, one IEEE chain), because a
    * one-ulp drift at the 2.0 threshold would fork the whole
    * trajectory. The oracle replays the identical recurrence rn→rn+1.
    */
  val z2PairsBacktest: Q = (s, dir) => {
    import s.implicits._
    val w = Window.orderBy("pos")
    val f30 = w.rowsBetween(-29, 0)
    val enriched = series(s, dir, 1, "a").join(series(s, dir, 2, "b"), "pos")
      .withColumn("spread", col("a") - col("b"))
      .withColumn("dspread",
        col("spread") - lag(col("spread"), 1).over(w))
      .withColumn("s1", sum(col("spread").cast("decimal(28,12)")).over(f30))
      .withColumn("s2",
        sum((col("spread") * col("spread")).cast("decimal(28,12)")).over(f30))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= 30)
      .withColumn("mean", col("s1").cast("double") / 30)
      .withColumn("sd", sqrt((col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / 30) / 29))
      .withColumn("z",
        when(col("sd") > 0, (col("spread") - col("mean")) / col("sd"))
          .otherwise(lit(0.0)))
      .select(col("pos").cast("long"), col("z").cast("double"),
        coalesce(col("dspread"), lit(0.0)).cast("double"))
    enriched.as[(Long, Double, Double)]
      .groupByKey(_ => 0)
      .flatMapSortedGroups(col("pos")) { (_, it) =>
        var position = 0L; var pnl = 0.0
        it.map { p =>
          pnl = pnl + position * p._3
          position =
            if (position == 0L) { if (p._2 > 2) -1L else if (p._2 < -2) 1L else 0L }
            else if (math.abs(p._2) < 0.5) 0L
            else position
          (p._1, p._2, position, pnl)
        }
      }
      .toDF("pos", "z", "position", "pnl")
      .select(col("pos"), q6(col("z")).as("z"), col("position"),
        q6(col("pnl")).as("pnl"))
      .orderBy("pos")
  }

  val z2PairsBacktestSql: String =
    """WITH RECURSIVE s AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events WHERE user_id IN (1, 2)),
      |j AS (
      |  SELECT a.pos, a.value - b.value AS spread
      |  FROM s a JOIN s b ON a.pos = b.pos AND a.user_id = 1 AND b.user_id = 2),
      |e0 AS (
      |  SELECT pos, spread,
      |    spread - lag(spread) OVER (ORDER BY pos) AS dspread,
      |    CAST(SUM(CAST(spread AS DECIMAL(28,12)))
      |      OVER (ORDER BY pos ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(spread * spread AS DECIMAL(28,12)))
      |      OVER (ORDER BY pos ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS s2,
      |    row_number() OVER (ORDER BY pos) AS rn
      |  FROM j),
      |e1 AS (
      |  SELECT pos, rn, COALESCE(dspread, 0.0) AS dspread,
      |    sqrt((s2 - s1 * s1 / 30) / 29) AS sd, s1 / 30 AS mean, spread
      |  FROM e0 WHERE rn >= 30),
      |e AS (
      |  SELECT pos, rn, dspread,
      |    CASE WHEN sd > 0 THEN (spread - mean) / sd ELSE CAST(0 AS DOUBLE) END AS z
      |  FROM e1),
      |k AS (
      |  SELECT pos, rn, z,
      |    CASE WHEN z > 2 THEN CAST(-1 AS BIGINT)
      |         WHEN z < -2 THEN CAST(1 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS position,
      |    CAST(0 AS DOUBLE) AS pnl
      |  FROM e WHERE rn = 30
      |  UNION ALL
      |  SELECT o.pos, o.rn, o.z,
      |    CASE WHEN p.position = 0 THEN
      |           CASE WHEN o.z > 2 THEN CAST(-1 AS BIGINT)
      |                WHEN o.z < -2 THEN CAST(1 AS BIGINT)
      |                ELSE CAST(0 AS BIGINT) END
      |         WHEN ABS(o.z) < 0.5 THEN CAST(0 AS BIGINT)
      |         ELSE p.position END AS position,
      |    p.pnl + p.position * o.dspread AS pnl
      |  FROM k p JOIN e o ON o.rn = p.rn + 1)
      |SELECT pos, floor(z * 1e6 + 0.5) / 1e6 AS z, position,
      |  floor(pnl * 1e6 + 0.5) / 1e6 AS pnl
      |FROM k ORDER BY pos""".stripMargin

  /** Z1: pairs-trading spread z-score — align two series by position,
    * spread = a − b, standardize against a rolling 30-point mean/stddev,
    * and flag |z| > 2 as a divergence signal. Rolling stddev drifts at
    * the last ulp across engines (i3/i7 precedent) — absorbed by the
    * 6-dp round, and the signal flag derives from the ROUNDED z so both
    * engines compare identical values. */
  val z1ZscoreSpread: Q = (s, dir) => {
    val joined = series(s, dir, 1, "a").join(series(s, dir, 2, "b"), "pos")
      .withColumn("spread", col("a") - col("b"))
    val w = Window.orderBy("pos")
    val frame = w.rowsBetween(-29, 0)
    val z = (col("spread") - avg(col("spread")).over(frame)) /
      stddev_samp(col("spread")).over(frame)
    joined
      .withColumn("z", when(row_number().over(w) >= 30, round(z, 6)))
      .select(col("pos").cast("long").as("pos"),
        round(col("spread"), 6).as("spread"), col("z"),
        (col("z").isNotNull && abs(col("z")) > 2.0).as("signal"))
      .orderBy("pos")
  }

  val z1ZscoreSpreadSql: String =
    """WITH s AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events WHERE user_id IN (1, 2)),
      |j AS (
      |  SELECT a.pos, a.value - b.value AS spread
      |  FROM s a JOIN s b ON a.pos = b.pos AND a.user_id = 1 AND b.user_id = 2),
      |zc AS (
      |  SELECT pos, spread,
      |    CASE WHEN row_number() OVER (ORDER BY pos) >= 30 THEN
      |      ROUND((spread - AVG(spread) OVER w30) / STDDEV_SAMP(spread) OVER w30, 6)
      |    END AS z
      |  FROM j
      |  WINDOW w30 AS (ORDER BY pos ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
      |SELECT CAST(pos AS BIGINT) AS pos, ROUND(spread, 6) AS spread, z,
      |  (z IS NOT NULL AND ABS(z) > 2.0) AS signal
      |FROM zc ORDER BY pos""".stripMargin

  /** I15: Donchian channel (20) — rolling max-high / min-low band with
    * SMA-style warm-up nulls; mid = channel midpoint. Pure frame
    * min/max (exact values, no float policy beyond display rounding),
    * one shuffle shared with the bar build. */
  val i15Donchian: Q = (s, dir) =>
    PatternQueries.dailyBars(s, dir)
      .withColumn("rn", row_number().over(barsW))
      .withColumn("upper0", when(col("rn") >= 20,
        max(col("high")).over(barsW.rowsBetween(-19, 0))))
      .withColumn("lower0", when(col("rn") >= 20,
        min(col("low")).over(barsW.rowsBetween(-19, 0))))
      .select(col("user_id"), col("day"),
        round(col("upper0"), 6).as("upper"), round(col("lower0"), 6).as("lower"),
        round((col("upper0") + col("lower0")) / 2, 6).as("mid"))
      .orderBy("user_id", "day")

  val i15DonchianSql: String = PatternQueries.barsCte +
    """,
      |d AS (
      |  SELECT user_id, day, row_number() OVER w AS rn,
      |    MAX(high) OVER (PARTITION BY user_id ORDER BY day
      |                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS u,
      |    MIN(low) OVER (PARTITION BY user_id ORDER BY day
      |                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day,
      |  CASE WHEN rn >= 20 THEN ROUND(u, 6) END AS upper,
      |  CASE WHEN rn >= 20 THEN ROUND(l, 6) END AS lower,
      |  CASE WHEN rn >= 20 THEN ROUND((u + l) / 2, 6) END AS mid
      |FROM d ORDER BY user_id, day""".stripMargin

  /** X6: lead-lag cross-correlation profile — corr(a_t, b_{t+l}) for
    * lags −5…5 between two positionally aligned series: which series
    * leads the other, and by how much. One aligned join, then each lag
    * is a corr over the lag-shifted pair (the shift rides the existing
    * position index — no re-sort, no extra shuffle per lag). */
  val x6CrossCorr: Q = (s, dir) => {
    val a = Graft.materialize(series(s, dir, 1, "a"))
    val b = Graft.materialize(
      series(s, dir, 2, "b").withColumnRenamed("pos", "bpos"))
    val lags = (-5 to 5).map { l =>
      a.join(b, col("bpos") === col("pos") + l)
        .agg(lit(l.toLong).as("lag"),
          round(coalesce(corr(col("a"), col("b")), lit(0.0)), 6).as("xcorr"),
          count(lit(1)).as("n"))
    }
    lags.reduce(_ unionByName _).orderBy("lag")
  }

  /** Both engines emit exactly 11 rows regardless of series length: the
    * Spark side's per-lag global aggregate yields a row even when a lag
    * has zero aligned pairs (n=0, xcorr=0.0), so the oracle LEFT JOINs
    * the lag range against the grouped aggregate and COALESCEs — a bare
    * GROUP BY would drop empty lags and row-count-mismatch on series
    * shorter than ~6 points. */
  val x6CrossCorrSql: String =
    """WITH s AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events WHERE user_id IN (1, 2)),
      |a AS (SELECT pos, value AS a FROM s WHERE user_id = 1),
      |b AS (SELECT pos AS bpos, value AS b FROM s WHERE user_id = 2),
      |g AS (
      |  SELECT l.lag,
      |    ROUND(COALESCE(corr(a.a, b.b), 0.0), 6) AS xcorr,
      |    COUNT(*) AS n
      |  FROM UNNEST(range(-5, 6)) AS l(lag)
      |  JOIN a ON TRUE
      |  JOIN b ON b.bpos = a.pos + l.lag
      |  GROUP BY l.lag)
      |SELECT l.lag, COALESCE(g.xcorr, 0.0) AS xcorr,
      |  COALESCE(g.n, 0) AS n
      |FROM UNNEST(range(-5, 6)) AS l(lag)
      |LEFT JOIN g USING (lag)
      |ORDER BY l.lag""".stripMargin

  /** I16: Keltner channels over daily bars — mid = SMA(20) of the
    * typical price (h+l+c)/3, band = mid ± 2·ATR(10) (SMA-of-true-range
    * ATR, i8's kernel at span 10). Both frame averages run through exact
    * DECIMAL sums (order-independent across engines); the band offsets
    * are then one shared IEEE chain on those exact doubles, quantized on
    * the floor(x·1e6+0.5) grid. Same one-shuffle shape as i8/i15: the
    * bars groupBy keys by user_id and every window reuses that layout. */
  val i16Keltner: Q = (s, dir) =>
    PatternQueries.dailyBars(s, dir)
      .withColumn("tp", (col("high") + col("low") + col("close")) / 3)
      .withColumn("tr",
        Indicators.trueRange(col("high"), col("low"), col("close"), barKeys, barOrder))
      .withColumn("rn", row_number().over(barsW))
      .withColumn("mid",
        sum(col("tp").cast("decimal(28,12)")).over(barsW.rowsBetween(-19, 0))
          .cast("double") / 20)
      .withColumn("atr",
        sum(col("tr").cast("decimal(28,12)")).over(barsW.rowsBetween(-9, 0))
          .cast("double") / 10)
      .select(col("user_id"), col("day"),
        when(col("rn") >= 20, q6(col("mid"))).as("mid"),
        when(col("rn") >= 20, q6(col("mid") + lit(2.0) * col("atr"))).as("upper"),
        when(col("rn") >= 20, q6(col("mid") - lit(2.0) * col("atr"))).as("lower"))
      .orderBy("user_id", "day")

  val i16KeltnerSql: String = PatternQueries.barsCte +
    """,
      |t AS (
      |  SELECT user_id, day, high, low, close,
      |    (high + low + close) / 3 AS tp,
      |    lag(close) OVER w AS prev, row_number() OVER w AS rn
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |tr AS (
      |  SELECT user_id, day, tp, rn,
      |    CASE WHEN prev IS NULL THEN high - low
      |         ELSE GREATEST(high - low, ABS(high - prev), ABS(low - prev))
      |    END AS tr
      |  FROM t),
      |sums AS (
      |  SELECT user_id, day, rn,
      |    CAST(SUM(CAST(tp AS DECIMAL(28,12))) OVER f20 AS DOUBLE) / 20 AS mid,
      |    CAST(SUM(CAST(tr AS DECIMAL(28,12))) OVER f10 AS DOUBLE) / 10 AS atr
      |  FROM tr
      |  WINDOW f20 AS (PARTITION BY user_id ORDER BY day
      |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      |         f10 AS (PARTITION BY user_id ORDER BY day
      |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      |SELECT user_id, day,
      |  CASE WHEN rn >= 20 THEN floor(mid * 1e6 + 0.5) / 1e6 END AS mid,
      |  CASE WHEN rn >= 20 THEN floor((mid + 2.0 * atr) * 1e6 + 0.5) / 1e6 END AS upper,
      |  CASE WHEN rn >= 20 THEN floor((mid - 2.0 * atr) * 1e6 + 0.5) / 1e6 END AS lower
      |FROM sums ORDER BY user_id, day""".stripMargin

  /** A23: per-series annualized return, Sharpe, and Sortino over daily
    * close-to-close returns — the portfolio-grade risk summary one tier
    * above a4's volatility. Every moment comes from exact decimal power
    * sums (w13's policy): var = (Σr² − (Σr)²/n)/(n−1) and downside² =
    * Σ min(r,0)²/n are then identical IEEE chains on exact doubles, so
    * the √252-annualized ratios agree bit-for-bit before the final
    * 1e-6 floor-grid. One shuffle (bars) + one keyed aggregation. */
  val a23Sharpe: Q = (s, dir) => {
    val rets = PatternQueries.dailyBars(s, dir)
      .withColumn("ret", col("close") / lag(col("close"), 1).over(barsW) - 1.0)
      .filter(col("ret").isNotNull)
      .withColumn("dn", least(col("ret"), lit(0.0)))
    rets.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("ret").cast("decimal(28,12)")).cast("double").as("s1"),
        sum((col("ret") * col("ret")).cast("decimal(38,12)")).cast("double").as("s2"),
        sum((col("dn") * col("dn")).cast("decimal(38,12)")).cast("double").as("sd2"))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("n"),
        q6(col("s1") / col("n") * lit(252.0)).as("ann_ret"),
        when((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1) > 0,
          q6((col("s1") / col("n")) /
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)) *
            sqrt(lit(252.0)))).as("sharpe"),
        when(col("sd2") > 0,
          q6((col("s1") / col("n")) / sqrt(col("sd2") / col("n")) *
            sqrt(lit(252.0)))).as("sortino"))
      .orderBy("user_id")
  }

  val a23SharpeSql: String = PatternQueries.barsCte +
    """,
      |r AS (
      |  SELECT user_id,
      |    close / lag(close) OVER (PARTITION BY user_id ORDER BY day) - 1.0 AS ret
      |  FROM bars),
      |m AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(CAST(ret AS DECIMAL(28,12))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(ret * ret AS DECIMAL(38,12))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(LEAST(ret, 0.0) * LEAST(ret, 0.0) AS DECIMAL(38,12))) AS DOUBLE) AS sd2
      |  FROM r WHERE ret IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n,
      |  floor(s1 / n * 252.0 * 1e6 + 0.5) / 1e6 AS ann_ret,
      |  CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0 THEN
      |    floor((s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) * sqrt(252.0) * 1e6 + 0.5) / 1e6
      |  END AS sharpe,
      |  CASE WHEN sd2 > 0 THEN
      |    floor((s1 / n) / sqrt(sd2 / n) * sqrt(252.0) * 1e6 + 0.5) / 1e6
      |  END AS sortino
      |FROM m WHERE n >= 2 ORDER BY user_id""".stripMargin

  /** W15: RiskMetrics EWMA correlation (λ = 0.94) between the user-1 and
    * user-2 series, positionally aligned — the decayed covariance /
    * variance recurrences every risk engine runs instead of a boxcar
    * rolling corr (w10): recent co-movement dominates, old shocks decay
    * geometrically. cov_t = λ·cov_{t−1} + (1−λ)·ra·rb (vars likewise,
    * seeded at the first aligned return pair). Not a SQL window frame,
    * so it runs as a per-PAIR recurrence kernel (this query's one pair =
    * one task; a pair UNIVERSE parallelizes by pair key) and the oracle
    * replays the identical chain in a recursive CTE. The λ constants are
    * written 0.94/0.06 on BOTH sides — deriving 1−0.94 at runtime gives
    * 0.06000000000000005 and a bit-mismatch. */
  val w15EwmCorr: Q = (s, dir) => {
    import s.implicits._
    def rets(uid: Int) = Graft.events(s, dir).filter(col("user_id") === uid)
      .withColumn("pos", row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .withColumn("ret", col("value") / lag(col("value"), 1).over(
        Window.partitionBy("user_id").orderBy("pos")) - 1.0)
      .filter(col("ret").isNotNull)
      .select(col("pos"), col("ret"))
    val aligned = rets(1).withColumnRenamed("ret", "ra")
      .join(rets(2).withColumnRenamed("ret", "rb"), "pos")
      .select(col("pos").cast("long"), col("ra"), col("rb"))
    aligned.as[(Long, Double, Double)]
      .groupByKey(_ => 0L)
      .flatMapSortedGroups(col("pos")) { (_, it) =>
        var cov = 0.0; var va = 0.0; var vb = 0.0
        it.zipWithIndex.map { case ((pos, ra, rb), i) =>
          if (i == 0) { cov = ra * rb; va = ra * ra; vb = rb * rb }
          else {
            cov = 0.94 * cov + 0.06 * (ra * rb)
            va = 0.94 * va + 0.06 * (ra * ra)
            vb = 0.94 * vb + 0.06 * (rb * rb)
          }
          // NaN = "undefined" sentinel (a boxed-null tuple field has no
          // implicit encoder); nulled out right below
          val corr =
            if (va > 0 && vb > 0) math.floor(cov / math.sqrt(va * vb) * 1e6 + 0.5) / 1e6
            else Double.NaN
          (pos, corr)
        }
      }
      .toDF("pos", "corr_raw")
      .select(col("pos"),
        when(isnan(col("corr_raw")), lit(null)).otherwise(col("corr_raw")).as("ewm_corr"))
      .orderBy("pos")
  }

  val w15EwmCorrSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
      |  FROM events WHERE user_id IN (1, 2)),
      |r AS (
      |  SELECT user_id, pos,
      |    value / lag(value) OVER (PARTITION BY user_id ORDER BY pos) - 1.0 AS ret
      |  FROM p),
      |s AS (
      |  SELECT a.pos, a.ret AS ra, b.ret AS rb,
      |    row_number() OVER (ORDER BY a.pos) AS rn
      |  FROM r a JOIN r b ON b.pos = a.pos AND a.user_id = 1 AND b.user_id = 2
      |  WHERE a.ret IS NOT NULL AND b.ret IS NOT NULL),
      |e AS (
      |  SELECT rn, pos, ra * rb AS cov, ra * ra AS va, rb * rb AS vb
      |  FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.pos,
      |    0.94 * e.cov + 0.06 * (o.ra * o.rb),
      |    0.94 * e.va + 0.06 * (o.ra * o.ra),
      |    0.94 * e.vb + 0.06 * (o.rb * o.rb)
      |  FROM e JOIN s o ON o.rn = e.rn + 1)
      |SELECT pos,
      |  CASE WHEN va > 0 AND vb > 0
      |       THEN floor(cov / sqrt(va * vb) * 1e6 + 0.5) / 1e6 END AS ewm_corr
      |FROM e ORDER BY pos""".stripMargin

  /** I17: parabolic SAR (Wilder) over daily bars — the stop-and-reverse
    * trail: while long, SAR ratchets toward the price by af·(EP − SAR)
    * (af 0.02 → 0.2, +0.02 per new extreme), clamps at the previous
    * bar's low, and a pierce flips the trend, restarting from the old
    * EP. Genuinely ITERATIVE state (trend, SAR, EP, af) with
    * data-dependent resets — no window frame expresses it, so it runs
    * as the per-series recurrence kernel, and the oracle replays the
    * identical CASE/arithmetic chain in a recursive CTE. One documented
    * variant choice: the clamp uses only the PRIOR bar's extreme (some
    * charting stacks use the prior two); both sides implement the same
    * choice, so the oracle pins it. */
  val i17Psar: Q = (s, dir) => {
    import s.implicits._
    PatternQueries.dailyBars(s, dir)
      .select(col("user_id").cast("long"), col("day").cast("string"),
        col("high").cast("double"), col("low").cast("double"),
        col("close").cast("double"))
      .as[(Long, String, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("day")) { (uid, it) => // ISO days sort chronologically
        val b0 = it.next()
        if (!it.hasNext) Iterator.empty
        else {
          val b1 = it.next()
          var up = b1._5 >= b0._5
          var sar = if (up) b0._4 else b0._3
          var ep = if (up) b1._3 else b1._4
          var af = 0.02
          var hp = b1._3; var lp = b1._4
          Iterator.single((uid, b1._2, sar, if (up) 1L else -1L)) ++ it.map { b =>
            val h = b._3; val l = b._4
            var s1 = sar + af * (ep - sar)
            if (up) {
              if (s1 > lp) s1 = lp
              if (l < s1) { up = false; sar = ep; ep = l; af = 0.02 }
              else { sar = s1; if (h > ep) { ep = h; af = if (af + 0.02 < 0.2) af + 0.02 else 0.2 } }
            } else {
              if (s1 < hp) s1 = hp
              if (h > s1) { up = true; sar = ep; ep = h; af = 0.02 }
              else { sar = s1; if (l < ep) { ep = l; af = if (af + 0.02 < 0.2) af + 0.02 else 0.2 } }
            }
            hp = h; lp = l
            (uid, b._2, sar, if (up) 1L else -1L)
          }
        }
      }
      .toDF("user_id", "day", "sar_raw", "trend")
      .select(col("user_id"), to_date(col("day")).as("day"),
        q6(col("sar_raw")).as("psar"), col("trend"))
      .orderBy("user_id", "day")
  }

  val i17PsarSql: String = PatternQueries.barsCte.replace("WITH ", "WITH RECURSIVE ") +
    """,
      |o AS (
      |  SELECT user_id, day, high, low, close,
      |    row_number() OVER w AS rn,
      |    lag(high) OVER w AS hp, lag(low) OVER w AS lp,
      |    lag(close) OVER w AS cp
      |  FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |r AS (
      |  SELECT user_id, rn, day,
      |    (close >= cp) AS up,
      |    CASE WHEN close >= cp THEN lp ELSE hp END AS sar,
      |    CASE WHEN close >= cp THEN high ELSE low END AS ep,
      |    CAST(0.02 AS DOUBLE) AS af
      |  FROM o WHERE rn = 2
      |  UNION ALL
      |  SELECT o.user_id, o.rn, o.day,
      |    CASE WHEN r.up THEN NOT (o.low  < LEAST(r.sar + r.af * (r.ep - r.sar), o.lp))
      |         ELSE          (o.high > GREATEST(r.sar + r.af * (r.ep - r.sar), o.hp)) END,
      |    CASE WHEN r.up THEN
      |           CASE WHEN o.low < LEAST(r.sar + r.af * (r.ep - r.sar), o.lp)
      |                THEN r.ep ELSE LEAST(r.sar + r.af * (r.ep - r.sar), o.lp) END
      |         ELSE
      |           CASE WHEN o.high > GREATEST(r.sar + r.af * (r.ep - r.sar), o.hp)
      |                THEN r.ep ELSE GREATEST(r.sar + r.af * (r.ep - r.sar), o.hp) END END,
      |    CASE WHEN r.up THEN
      |           CASE WHEN o.low < LEAST(r.sar + r.af * (r.ep - r.sar), o.lp) THEN o.low
      |                WHEN o.high > r.ep THEN o.high ELSE r.ep END
      |         ELSE
      |           CASE WHEN o.high > GREATEST(r.sar + r.af * (r.ep - r.sar), o.hp) THEN o.high
      |                WHEN o.low < r.ep THEN o.low ELSE r.ep END END,
      |    CASE WHEN r.up THEN
      |           CASE WHEN o.low < LEAST(r.sar + r.af * (r.ep - r.sar), o.lp) THEN CAST(0.02 AS DOUBLE)
      |                WHEN o.high > r.ep THEN
      |                  CASE WHEN r.af + 0.02 < 0.2 THEN r.af + 0.02 ELSE CAST(0.2 AS DOUBLE) END
      |                ELSE r.af END
      |         ELSE
      |           CASE WHEN o.high > GREATEST(r.sar + r.af * (r.ep - r.sar), o.hp) THEN CAST(0.02 AS DOUBLE)
      |                WHEN o.low < r.ep THEN
      |                  CASE WHEN r.af + 0.02 < 0.2 THEN r.af + 0.02 ELSE CAST(0.2 AS DOUBLE) END
      |                ELSE r.af END END
      |  FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.rn + 1)
      |SELECT user_id, day,
      |  floor(sar * 1e6 + 0.5) / 1e6 AS psar,
      |  CAST(CASE WHEN up THEN 1 ELSE -1 END AS BIGINT) AS trend
      |FROM r ORDER BY user_id, day""".stripMargin

  def queries: Map[String, Q] = Map(
    "i17_psar" -> i17Psar,
    "w15_ewm_corr" -> w15EwmCorr,
    "i16_keltner" -> i16Keltner,
    "a23_sharpe" -> a23Sharpe,
    "x6_crosscorr" -> x6CrossCorr,
    "z2_pairs_backtest" -> z2PairsBacktest,
    "z1_zscore_spread" -> z1ZscoreSpread,
    "i8_atr" -> i8Atr,
    "i9_stochastic" -> i9Stochastic,
    "i10_obv" -> i10Obv,
    "i11_vwap" -> i11Vwap,
    "i13_cci" -> i13Cci,
    "i15_donchian" -> i15Donchian,
    "x5_momentum_decile" -> x5MomentumDecile,
    "w10_rolling_corr" -> w10RollingCorr,
  )

  def oracle: Map[String, String] = Map(
    "i17_psar" -> i17PsarSql,
    "w15_ewm_corr" -> w15EwmCorrSql,
    "i16_keltner" -> i16KeltnerSql,
    "a23_sharpe" -> a23SharpeSql,
    "x6_crosscorr" -> x6CrossCorrSql,
    "z2_pairs_backtest" -> z2PairsBacktestSql,
    "z1_zscore_spread" -> z1ZscoreSpreadSql,
    "i8_atr" -> i8AtrSql,
    "i9_stochastic" -> i9StochasticSql,
    "i10_obv" -> i10ObvSql,
    "i11_vwap" -> i11VwapSql,
    "i13_cci" -> i13CciSql,
    "i15_donchian" -> i15DonchianSql,
    "x5_momentum_decile" -> x5MomentumDecileSql,
    "w10_rolling_corr" -> w10RollingCorrSql,
  )
}
