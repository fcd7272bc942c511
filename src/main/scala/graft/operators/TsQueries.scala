package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.analytics.{Similarity, Volatility}
import graft.ta.Technical
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operator queries over the `events` table (user_id = series
  * key, ts = time axis, value = price), mirroring SURVEY.md §2.5 W1-W3 and
  * §2.4 A4-A8 exactly as the reference defines them (two log-return
  * variants, warm-up-null SMA, percentile risk classes).
  *
  * Oracle ordering note: Spark reads the parquet ns timestamps as ns-longs
  * (nanosAsLong, see Graft.envSession) while DuckDB keeps ns timestamps —
  * both order identically; (ts, event_id) adds a unique tiebreak anyway.
  */
object TsQueries {

  private val keys = Seq("user_id")
  private def order: Seq[Column] = Seq(col("ts"), col("event_id"))

  private val orderedCte =
    """WITH r AS (
      |  SELECT event_id, user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events)""".stripMargin

  /** W1 strict/volatility variant: invalid pairs omitted. */
  val w1LogReturns: Q = (s, dir) =>
    Graft.events(s, dir)
      .withColumn("ret", round(Technical.logReturnStrict(col("value"), keys, order), 6))
      .filter(col("ret").isNotNull)
      .select("event_id", "user_id", "ret")
      .orderBy("user_id", "event_id")

  val w1LogReturnsSql: String = orderedCte +
    """
      |SELECT event_id, user_id, ROUND(LN(value / prev), 6) AS ret
      |FROM r WHERE prev IS NOT NULL AND prev > 0 AND value > 0
      |ORDER BY user_id, event_id""".stripMargin

  /** W1 zero/technical variant: rows with a predecessor always emit, 0.0
    * on invalid pairs (technical.py:151-153). */
  val w1LogReturnsZero: Q = (s, dir) =>
    Graft.events(s, dir)
      .withColumn("ret", round(Technical.logReturnZero(col("value"), keys, order), 6))
      .filter(col("ret").isNotNull)
      .select("event_id", "user_id", "ret")
      .orderBy("user_id", "event_id")

  val w1LogReturnsZeroSql: String = orderedCte +
    """
      |SELECT event_id, user_id,
      |  ROUND(CASE WHEN value > 0 AND prev > 0 THEN LN(value / prev) ELSE 0.0 END, 6) AS ret
      |FROM r WHERE prev IS NOT NULL
      |ORDER BY user_id, event_id""".stripMargin

  /** W2: simple returns, 0.0 on zero denominator. */
  val w2SimpleReturns: Q = (s, dir) =>
    Graft.events(s, dir)
      // floor-grid, not round(): engines disagree within one ULP of the
      // 1e-6 half boundary (one sf0.1 row, ×10 replicas at the sf1
      // gate); floor(x*1e6+0.5)/1e6 is the same IEEE chain on both.
      .withColumn("ret",
        q6(Technical.simpleReturn(col("value"), keys, order)))
      .filter(col("ret").isNotNull)
      .select("event_id", "user_id", "ret")
      .orderBy("user_id", "event_id")

  val w2SimpleReturnsSql: String = orderedCte +
    """
      |SELECT event_id, user_id,
      |  FLOOR(CASE WHEN prev = 0 THEN 0.0 ELSE (value - prev) / prev END
      |        * 1e6 + 0.5) / 1e6 AS ret
      |FROM r WHERE prev IS NOT NULL
      |ORDER BY user_id, event_id""".stripMargin

  /** W3+W9: trailing SMA(20) with null warm-up rows. */
  val w3Sma20: Q = (s, dir) =>
    Graft.events(s, dir)
      .withColumn("sma", round(Technical.sma(col("value"), 20, keys, order), 6))
      .select("event_id", "user_id", "sma")
      .orderBy("user_id", "event_id")

  val w3Sma20Sql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN row_number() OVER w >= 20 THEN
      |    ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 6)
      |  END AS sma
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  private def volsDf(s: SparkSession, dir: String): DataFrame =
    Volatility.annualized(Graft.events(s, dir), col("value"), keys, order)
      .withColumn("vol", round(col("vol"), 6))

  private val volsCte = orderedCte +
    """,
      |rets AS (SELECT user_id, LN(value / prev) AS ret
      |         FROM r WHERE prev > 0 AND value > 0),
      |vols AS (SELECT u.user_id,
      |           ROUND(COALESCE(STDDEV_SAMP(ret) * SQRT(252.0), 0.0), 6) AS vol
      |         FROM (SELECT DISTINCT user_id FROM events) u
      |         LEFT JOIN rets ON u.user_id = rets.user_id
      |         GROUP BY u.user_id)""".stripMargin

  /** A4: annualized historical volatility per series. */
  val a4Volatility: Q = (s, dir) => volsDf(s, dir).orderBy("user_id")

  val a4VolatilitySql: String = volsCte +
    """
      |SELECT user_id, vol FROM vols ORDER BY user_id""".stripMargin

  /** A5: exact linear-interpolation P33/P66 of the vol distribution. */
  val a5Percentile: Q = (s, dir) =>
    Volatility.thresholds(volsDf(s, dir))
      .select(round(col("p33"), 6).as("p33"), round(col("p66"), 6).as("p66"))

  val a5PercentileSql: String = volsCte + ",\n" +
    OracleSql.pctChain("th", "vols", "vol", Nil,
      Seq("p33" -> "0.33", "p66" -> "0.66")) +
    """
      |SELECT ROUND(p33, 6) AS p33, ROUND(p66, 6) AS p66 FROM th""".stripMargin

  /** A6+A8: risk classification + ascending-vol rank (user_id tiebreak). */
  val a6RiskClassify: Q = (s, dir) =>
    Volatility.classify(volsDf(s, dir), Seq(col("user_id")))
      .select(col("user_id"), col("vol"), col("risk_class"),
        col("rank").cast("long").as("risk_rank"))
      .orderBy("risk_rank")

  // Thresholds feed `vol <= p33/p66` comparisons against the SAME vol
  // values they interpolate between — rounded-6dp vols tie freely (and
  // clone replicas duplicate them wholesale), so the exact Spark chain
  // is required (OracleSql scaladoc).
  val a6RiskClassifySql: String = volsCte + ",\n" +
    OracleSql.pctChain("th", "vols", "vol", Nil,
      Seq("p33" -> "0.33", "p66" -> "0.66")) +
    """
      |SELECT user_id, vol,
      |  CASE WHEN vol <= p33 THEN 'Conservador'
      |       WHEN vol <= p66 THEN 'Moderado'
      |       ELSE 'Agresivo' END AS risk_class,
      |  row_number() OVER (ORDER BY vol ASC, user_id) AS risk_rank
      |FROM vols, th
      |ORDER BY risk_rank""".stripMargin

  /** A7: class membership counts. */
  val a7RiskSummary: Q = (s, dir) =>
    Volatility.summary(Volatility.classify(volsDf(s, dir), Seq(col("user_id"))))
      .select(col("risk_class"), col("count").as("n"))
      .orderBy("risk_class")

  val a7RiskSummarySql: String = volsCte + ",\n" +
    OracleSql.pctChain("th", "vols", "vol", Nil,
      Seq("p33" -> "0.33", "p66" -> "0.66")) +
    """
      |SELECT CASE WHEN vol <= p33 THEN 'Conservador'
      |            WHEN vol <= p66 THEN 'Moderado'
      |            ELSE 'Agresivo' END AS risk_class,
      |       COUNT(*) AS n
      |FROM vols, th
      |GROUP BY 1 ORDER BY risk_class""".stripMargin

  /** F10: linear-regression trend line per series (regr_slope/intercept —
    * the reference's client-side JS trend, similarity.js:220-232).
    * Computed from EXACT sums, not the engines' regr_* aggregates: x is
    * an integer rank and y an exact 2-decimal value, so Σx, Σx², Σy, Σxy
    * are all exact (long / decimal) and order-independent; the closed
    * forms then run as one identical IEEE chain per engine. regr_slope
    * itself accumulates running co-moments in doubles, whose ULP drift
    * differs between engines AND with partial-aggregation order — the
    * sf1 gate caught 10/15k rows split across the rounding boundary. */
  val f10RegrTrend: Q = (s, dir) => {
    val nD = col("n").cast("double")
    val denom = nD * col("sxx") - col("sx") * col("sx")
    val slope = (nD * col("sxy") - col("sx") * col("sy")) / denom
    Similarity.withPos(Graft.events(s, dir), keys, order)
      .select(col("user_id"), col("pos").cast("long").as("pos"),
        col("value").cast("decimal(18,2)").as("y"))
      .groupBy("user_id")
      .agg(
        sum(col("pos")).cast("double").as("sx"),
        sum(col("pos") * col("pos")).cast("double").as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("pos").cast("decimal(12,0)") * col("y")).cast("double").as("sxy"),
        count(lit(1)).as("n"))
      .select(col("user_id"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(q6(slope)).as("slope"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(q6((col("sy") - slope * col("sx")) / nD)).as("intercept"),
        col("n"))
      .orderBy("user_id")
  }

  val f10RegrTrendSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS y,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS pos
      |  FROM events),
      |a AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(pos) AS DOUBLE) AS sx,
      |    CAST(SUM(pos * pos) AS DOUBLE) AS sxx,
      |    CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(pos * y) AS DOUBLE) AS sxy
      |  FROM p GROUP BY user_id)
      |SELECT user_id,
      |  CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx = 0 THEN NULL
      |       ELSE FLOOR((CAST(n AS DOUBLE)*sxy - sx*sy)
      |                  / (CAST(n AS DOUBLE)*sxx - sx*sx) * 1e6 + 0.5) / 1e6
      |  END AS slope,
      |  CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx = 0 THEN NULL
      |       ELSE FLOOR((sy - (CAST(n AS DOUBLE)*sxy - sx*sy)
      |                        / (CAST(n AS DOUBLE)*sxx - sx*sx) * sx)
      |                  / CAST(n AS DOUBLE) * 1e6 + 0.5) / 1e6
      |  END AS intercept,
      |  n
      |FROM a ORDER BY user_id""".stripMargin

  /** C9: chart downsampling — every k-th element so ≤200 points survive
    * per series (app.py:213-238). */
  val c9Downsample: Q = (s, dir) => {
    val posed = Similarity.withPos(Graft.events(s, dir), keys, order)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .withColumn("step", greatest(lit(1), ceil(col("n") / 200).cast("int")))
    posed.filter((col("pos") - 1) % col("step") === 0)
      .select(col("user_id"), col("pos").cast("long").as("pos"),
        round(col("value"), 6).as("value"))
      .orderBy("user_id", "pos")
  }

  val c9DownsampleSql: String =
    """WITH p AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id, pos, ROUND(value, 6) AS value
      |FROM p
      |WHERE (pos - 1) % GREATEST(1, CAST(CEIL(n / 200.0) AS INT)) = 0
      |ORDER BY user_id, pos""".stripMargin

  /** K6: candlestick tail-limit — last N points of one series, ascending
    * (app.py:366-381). */
  val k6TailLimit: Q = (s, dir) =>
    Graft.events(s, dir).filter(col("user_id") === 1)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(30)
      .select(col("event_id"), round(col("value"), 6).as("value"))
      .orderBy("event_id")

  val k6TailLimitSql: String =
    """SELECT event_id, ROUND(value, 6) AS value
      |FROM (SELECT * FROM events WHERE user_id = 1
      |      ORDER BY ts DESC, event_id DESC LIMIT 30)
      |ORDER BY event_id""".stripMargin

  /** A18: maximum drawdown per series — the deepest peak-to-trough loss
    * dd_t = value_t / runningMax(value) − 1 over the time order, the
    * risk statistic volatility misses (it is path-dependent). One
    * running-max window per series plus a keyed aggregation; per-row
    * ratios are pure IEEE ops (bit-identical cross-engine) and MIN is
    * order-independent, so only the output is rounded. */
  val a18MaxDrawdown: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Graft.events(s, dir)
      .withColumn("dd", col("value") / max(col("value")).over(w) - 1.0)
      .groupBy("user_id")
      .agg(round(min(col("dd")), 6).as("max_drawdown"),
        count(lit(1)).as("n_points"))
      .orderBy("user_id")
  }

  val a18MaxDrawdownSql: String =
    """WITH d AS (
      |  SELECT user_id,
      |    value / MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
      |  FROM events)
      |SELECT user_id, ROUND(MIN(dd), 6) AS max_drawdown, COUNT(*) AS n_points
      |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin

  /** A22: time underwater — how LONG each series spends below its
    * running peak (a18 measures how deep; recovery time is the other
    * half of drawdown risk). Underwater = value strictly below the
    * running max; spells are consecutive-underwater islands (run id =
    * running count of at-peak rows), and the report is total underwater
    * points, the longest single spell, and whether the series ends
    * underwater. Two windows over ONE series shuffle + a keyed
    * aggregation. Equality on doubles is safe here: the running max is
    * a copied input value, so value = peak is exact, not computed. */
  val a22Underwater: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The windowed frame feeds TWO aggregations (spell lengths + the
    // per-user summary); materialize it once or the three window passes
    // run twice end-to-end (measured ~2x at sf1).
    val uw = Graft.materialize(Graft.events(s, dir)
      .withColumn("under",
        (col("value") < max(col("value")).over(run)).cast("long"))
      .withColumn("spell", sum(lit(1L) - col("under")).over(run))
      .withColumn("mx", max(col("spell")).over(Window.partitionBy("user_id"))))
    val spells = uw.filter(col("under") === 1)
      .groupBy("user_id", "spell").agg(count(lit(1)).as("len"))
    uw.groupBy("user_id")
      .agg(sum(col("under")).as("n_underwater"),
        max(when(col("spell") === col("mx"), col("under"))).as("ends_under"))
      .join(spells.groupBy("user_id").agg(max(col("len")).as("max_spell")),
        Seq("user_id"), "left")
      .select(col("user_id"), col("n_underwater").cast("long").as("n_underwater"),
        coalesce(col("max_spell"), lit(0L)).cast("long").as("max_spell"),
        col("ends_under").cast("long").as("ends_under"))
      .orderBy("user_id")
  }

  val a22UnderwaterSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN value < MAX(value) OVER w THEN 1 ELSE 0 END AS under
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |u AS (
      |  SELECT user_id, under,
      |    SUM(1 - under) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spell
      |  FROM p),
      |sp AS (
      |  SELECT user_id, spell, COUNT(*) AS len FROM u WHERE under = 1
      |  GROUP BY user_id, spell),
      |agg AS (
      |  SELECT user_id, SUM(under) AS n_underwater,
      |    MAX(CASE WHEN spell = mx THEN under END) AS ends_under
      |  FROM (SELECT *, MAX(spell) OVER (PARTITION BY user_id) AS mx FROM u)
      |  GROUP BY user_id)
      |SELECT a.user_id, CAST(a.n_underwater AS BIGINT) AS n_underwater,
      |  CAST(COALESCE(s.max_spell, 0) AS BIGINT) AS max_spell,
      |  CAST(a.ends_under AS BIGINT) AS ends_under
      |FROM agg a LEFT JOIN (SELECT user_id, MAX(len) AS max_spell FROM sp
      |                      GROUP BY user_id) s USING (user_id)
      |ORDER BY a.user_id""".stripMargin

  /** C12: winsorization — clip each series' values into its own
    * [p05, p95] percentile band (the gentler alternative to c11's
    * outlier drop: extremes are pulled to the fence, not removed).
    * Same shape as c11: one keyed percentile aggregation, bounds
    * broadcast back, stateless row clip. */
  val c12Winsorize: Q = (s, dir) => {
    val ev = Graft.events(s, dir)
    val bounds = ev.groupBy("user_id").agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    ev.join(broadcast(bounds), "user_id")
      .select(col("event_id"), col("user_id"),
        q6(greatest(col("lo"), least(col("hi"), col("value")))).as("winsorized"),
        (col("value") < col("lo") || col("value") > col("hi")).as("clipped"))
      .orderBy("user_id", "event_id")
  }

  // Bounds feed a comparison against raw grid values, so they must use
  // Spark's exact interpolation chain, not quantile_cont (OracleSql
  // scaladoc; the sf1-jitter gate caught quantile_cont re-rounding a
  // tied-neighbor bound and flipping `clipped` on values sitting on it).
  val c12WinsorizeSql: String =
    "WITH " + OracleSql.pctChain("b", "events", "value", Seq("user_id"),
      Seq("lo" -> "0.05", "hi" -> "0.95")) +
    """
      |SELECT e.event_id, e.user_id,
      |  FLOOR(GREATEST(b.lo, LEAST(b.hi, e.value)) * 1e6 + 0.5) / 1e6 AS winsorized,
      |  (e.value < b.lo OR e.value > b.hi) AS clipped
      |FROM events e JOIN b USING (user_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** A19: historical VaR(95) / CVaR(95) per series — the 5th-percentile
    * log return and the mean of the tail at or below it (expected
    * shortfall). The natural next step after A4-A7's volatility ladder.
    *
    * Cross-engine determinism: returns are snapped to the 1e-9 grid
    * (floor policy) BEFORE the quantile, so the values the percentile
    * interpolates — and the `ret <= var05` tail comparison — are
    * identical doubles on both engines (Spark `percentile` and DuckDB
    * `quantile_cont` share the p·(n−1) linear-interpolation formula);
    * the tail mean accumulates as exact DECIMAL, double only at the
    * final division. One window + two keyed aggregations, no
    * non-broadcast join: the per-series var05 frame is k rows. */
  val a19VarCvar: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val rets = Graft.events(s, dir)
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev") > 0 && col("value") > 0)
      .withColumn("ret", floor(log(col("value") / col("prev")) * lit(1e9) + lit(0.5)) / lit(1e9))
    val varq = rets.groupBy("user_id").agg(expr("percentile(ret, 0.05)").as("var05"))
    rets.join(broadcast(varq), "user_id")
      .filter(col("ret") <= col("var05"))
      .groupBy("user_id")
      .agg(round(first(col("var05")), 6).as("var05"),
        round(sum(col("ret").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6).as("cvar05"),
        count(lit(1)).as("n_tail"))
      .orderBy("user_id")
  }

  val a19VarCvarSql: String =
    """WITH r AS (
      |  SELECT event_id, user_id, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |rets AS (
      |  SELECT user_id, FLOOR(LN(value / prev) * 1e9 + 0.5) / 1e9 AS ret
      |  FROM r WHERE prev > 0 AND value > 0),
      |""".stripMargin +
    // var05 feeds `ret <= var05` against the same grid-snapped rets it
    // interpolates between — exact Spark chain required (OracleSql).
    OracleSql.pctChain("vq", "rets", "ret", Seq("user_id"),
      Seq("var05" -> "0.05")) +
    """
      |SELECT rets.user_id, ROUND(vq.var05, 6) AS var05,
      |  ROUND(CAST(SUM(CAST(ret AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS cvar05,
      |  COUNT(*) AS n_tail
      |FROM rets JOIN vq ON vq.user_id = rets.user_id
      |WHERE ret <= var05
      |GROUP BY rets.user_id, vq.var05
      |ORDER BY rets.user_id""".stripMargin

  /** A20: market beta/alpha per series — OLS of each series' log
    * returns against the cross-sectional "market" (the equal-weight
    * mean return across all series at each aligned position). CAPM's
    * workhorse regression as one plan: returns (one window), the
    * market index (one keyed aggregation over positions — a
    * BROADCASTABLE frame of max-series-length rows at any corpus
    * size), then per-series regr_slope/regr_intercept.
    *
    * Float policy: returns on the 1e-9 grid; the market mean
    * accumulates as exact DECIMAL then snaps to the same grid, so the
    * regression inputs are engine-identical; the regression moments
    * themselves drift at the last ulp (association order) — ROUND 6
    * absorbs, per the repo policy for corr/regr outputs. */
  val a20Beta: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val rets = Graft.events(s, dir)
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev") > 0 && col("value") > 0)
      .withColumn("rn", row_number().over(w))
      .withColumn("ret", floor(log(col("value") / col("prev")) * lit(1e9) + lit(0.5)) / lit(1e9))
    val mkt = rets.groupBy("rn").agg(
      (floor(sum(col("ret").cast("decimal(28,12)")).cast("double") / count(lit(1))
        * lit(1e9) + lit(0.5)) / lit(1e9)).as("mret"))
    rets.join(broadcast(mkt), "rn")
      .groupBy("user_id")
      .agg(round(regr_slope(col("ret"), col("mret")), 6).as("beta"),
        round(regr_intercept(col("ret"), col("mret")), 6).as("alpha"),
        count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  val a20BetaSql: String =
    """WITH r AS (
      |  SELECT event_id, user_id, ts, value,
      |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |rets AS (
      |  SELECT user_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    FLOOR(LN(value / prev) * 1e9 + 0.5) / 1e9 AS ret
      |  FROM r WHERE prev > 0 AND value > 0),
      |mkt AS (
      |  SELECT rn,
      |    FLOOR(CAST(SUM(CAST(ret AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
      |          * 1e9 + 0.5) / 1e9 AS mret
      |  FROM rets GROUP BY rn)
      |SELECT user_id, ROUND(regr_slope(ret, mret), 6) AS beta,
      |       ROUND(regr_intercept(ret, mret), 6) AS alpha,
      |       COUNT(*) AS n
      |FROM rets JOIN mkt USING (rn)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** W12: centered rolling median (21-point frame) — the robust
    * smoother for spiky series (median filters shrug off the outliers
    * that drag an SMA). One exact interpolated percentile per frame;
    * the frame clips symmetrically at series edges on both engines, and
    * the interpolation is the same p·(n−1) formula a5 relies on. */
  val w12RollingMedian: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-10, 10)
    Graft.events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(expr("percentile(value, 0.5)").over(w), 6).as("rmed"))
      .orderBy("user_id", "event_id")
  }

  val w12RollingMedianSql: String =
    """SELECT event_id, user_id,
      |  ROUND(quantile_cont(value, 0.5) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING), 6) AS rmed
      |FROM events ORDER BY user_id, event_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "a18_max_drawdown" -> a18MaxDrawdown,
    "a22_underwater" -> a22Underwater,
    "a19_var_cvar" -> a19VarCvar,
    "w12_rolling_median" -> w12RollingMedian,
    "a20_beta" -> a20Beta,
    "c12_winsorize" -> c12Winsorize,
    "f10_regr_trend" -> f10RegrTrend,
    "c9_downsample" -> c9Downsample,
    "k6_tail_limit" -> k6TailLimit,
    "w1_log_returns" -> w1LogReturns,
    "w1_log_returns_zero" -> w1LogReturnsZero,
    "w2_simple_returns" -> w2SimpleReturns,
    "w3_sma20" -> w3Sma20,
    "a4_volatility" -> a4Volatility,
    "a5_percentile" -> a5Percentile,
    "a6_risk_classify" -> a6RiskClassify,
    "a7_risk_summary" -> a7RiskSummary,
  )

  def oracle: Map[String, String] = Map(
    "a18_max_drawdown" -> a18MaxDrawdownSql,
    "a22_underwater" -> a22UnderwaterSql,
    "a19_var_cvar" -> a19VarCvarSql,
    "w12_rolling_median" -> w12RollingMedianSql,
    "a20_beta" -> a20BetaSql,
    "c12_winsorize" -> c12WinsorizeSql,
    "f10_regr_trend" -> f10RegrTrendSql,
    "c9_downsample" -> c9DownsampleSql,
    "k6_tail_limit" -> k6TailLimitSql,
    "w1_log_returns" -> w1LogReturnsSql,
    "w1_log_returns_zero" -> w1LogReturnsZeroSql,
    "w2_simple_returns" -> w2SimpleReturnsSql,
    "w3_sma20" -> w3Sma20Sql,
    "a4_volatility" -> a4VolatilitySql,
    "a5_percentile" -> a5PercentileSql,
    "a6_risk_classify" -> a6RiskClassifySql,
    "a7_risk_summary" -> a7RiskSummarySql,
  )
}
