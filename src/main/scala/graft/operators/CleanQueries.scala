package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.align.Alignment
import graft.clean.Cleaning
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cleaning + alignment operator queries (SURVEY.md §2.2 C1-C4, §2.3
  * J1-J3). The testdata has no nulls, so missingness is injected
  * deterministically (event_id % 10 → null) and OHLC anomalies are
  * injected per user (user_id % 7 / % 11) before running the operators —
  * both sides of the oracle apply the same injection. */
object CleanQueries {

  private def order: Seq[Column] = Seq(col("ts"), col("event_id"))

  /** events with deterministic missing values in `v`. */
  private def nulled(s: SparkSession, dir: String): DataFrame =
    Graft.events(s, dir).withColumn("v",
      when(col("event_id") % 10 === 0, lit(null).cast("double"))
        .otherwise(col("value")))

  private val nulledCte =
    """WITH e AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
      |  FROM events)""".stripMargin

  private val barsCte =
    """WITH bars AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    arg_min(value, ts) AS open, max(value) AS high,
      |    min(value) AS low, arg_max(value, ts) AS close
      |  FROM events GROUP BY 1, 2),
      |mod AS (
      |  SELECT user_id, day,
      |    CASE WHEN user_id % 7 = 0 THEN high * 1.1 ELSE open END AS open,
      |    CASE WHEN user_id % 11 = 0 THEN low ELSE high END AS high,
      |    CASE WHEN user_id % 11 = 0 THEN high ELSE low END AS low,
      |    close
      |  FROM bars)""".stripMargin

  /** C1: global missing-cell report. */
  val c1MissingReport: Q = (s, dir) =>
    Cleaning.missingReport(nulled(s, dir), Seq("v"))

  val c1MissingReportSql: String = nulledCte +
    """
      |SELECT CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_v,
      |       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_total
      |FROM e""".stripMargin

  /** C2: OHLC consistency anomalies over bars with injected defects. */
  val c2Anomalies: Q = (s, dir) => {
    val bars = PatternQueries.dailyBars(s, dir)
    val defective = bars.select(
      col("user_id"), col("day"),
      when(col("user_id") % 7 === 0, col("high") * 1.1).otherwise(col("open")).as("open"),
      when(col("user_id") % 11 === 0, col("low")).otherwise(col("high")).as("high"),
      when(col("user_id") % 11 === 0, col("high")).otherwise(col("low")).as("low"),
      col("close"))
    Cleaning.inconsistencies(defective)
      .select("user_id", "day", "anomaly_type")
      .orderBy("user_id", "day", "anomaly_type")
  }

  val c2AnomaliesSql: String = barsCte +
    """
      |SELECT user_id, day, anomaly_type FROM (
      |  SELECT user_id, day, 'High_less_than_Low' AS anomaly_type
      |  FROM mod WHERE high < low
      |  UNION ALL
      |  SELECT user_id, day, 'Close_outside_Low_High_range'
      |  FROM mod WHERE close < low OR close > high
      |  UNION ALL
      |  SELECT user_id, day, 'Open_outside_Low_High_range'
      |  FROM mod WHERE open < low OR open > high)
      |ORDER BY user_id, day, anomaly_type""".stripMargin

  /** C3: forward fill of the nulled series. */
  val c3ForwardFill: Q = (s, dir) =>
    Cleaning.forwardFill(nulled(s, dir), "v", Seq("user_id"), order)
      .select(col("event_id"), col("user_id"), round(col("v"), 6).as("v"))
      .orderBy("user_id", "event_id")

  val c3ForwardFillSql: String = nulledCte +
    """
      |SELECT event_id, user_id,
      |  ROUND(last_value(v IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v
      |FROM e
      |ORDER BY user_id, event_id""".stripMargin

  /** C4: rows surviving ffill + drop-invalid, per series. */
  val c4DropInvalid: Q = (s, dir) =>
    Cleaning.dropInvalid(
      Cleaning.forwardFill(nulled(s, dir), "v", Seq("user_id"), order), "v")
      .groupBy("user_id").agg(count(lit(1)).as("n_kept"))
      .orderBy("user_id")

  val c4DropInvalidSql: String = nulledCte +
    """,
      |f AS (
      |  SELECT user_id,
      |    last_value(v IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |  FROM e)
      |SELECT user_id, COUNT(*) AS n_kept FROM f WHERE v IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** J1: master calendar (union-distinct of observed days). */
  val j1Calendar: Q = (s, dir) =>
    Alignment.masterCalendar(PatternQueries.dailyBars(s, dir), "day")
      .select(col("day").as("date"))

  val j1CalendarSql: String =
    """SELECT DISTINCT CAST(ts AS DATE) AS date FROM events ORDER BY date""".stripMargin

  /** J2: calendar × series LEFT JOIN bars — null-padded alignment. */
  val j2Align: Q = (s, dir) =>
    Alignment.alignToCalendar(PatternQueries.dailyBars(s, dir), "user_id", "day")
      .select(col("day"), col("user_id"), round(col("close"), 6).as("close"))
      .orderBy("day", "user_id")

  val j2AlignSql: String =
    """WITH bars AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, arg_max(value, ts) AS close
      |  FROM events GROUP BY 1, 2),
      |cal AS (SELECT DISTINCT day FROM bars),
      |syms AS (SELECT DISTINCT user_id FROM bars)
      |SELECT c.day, s.user_id, ROUND(b.close, 6) AS close
      |FROM cal c CROSS JOIN syms s
      |LEFT JOIN bars b ON b.day = c.day AND b.user_id = s.user_id
      |ORDER BY c.day, s.user_id""".stripMargin

  /** J3: wide assembly — one row per day, one close column per series. */
  val j3PivotWide: Q = (s, dir) => {
    val bars = PatternQueries.dailyBars(s, dir).filter(col("user_id") < 5)
    val aggs = (0 to 4).map(k =>
      round(max(when(col("user_id") === k, col("close"))), 6).as(s"u$k"))
    bars.groupBy("day").agg(aggs.head, aggs.tail: _*).orderBy("day")
  }

  val j3PivotWideSql: String =
    """WITH bars AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, arg_max(value, ts) AS close
      |  FROM events WHERE user_id < 5 GROUP BY 1, 2)
      |SELECT day,
      |  ROUND(MAX(CASE WHEN user_id = 0 THEN close END), 6) AS u0,
      |  ROUND(MAX(CASE WHEN user_id = 1 THEN close END), 6) AS u1,
      |  ROUND(MAX(CASE WHEN user_id = 2 THEN close END), 6) AS u2,
      |  ROUND(MAX(CASE WHEN user_id = 3 THEN close END), 6) AS u3,
      |  ROUND(MAX(CASE WHEN user_id = 4 THEN close END), 6) AS u4
      |FROM bars GROUP BY day ORDER BY day""".stripMargin

  /** C10: linear interpolation of missing values — each null gets
    * prev + (next−prev)·(pos−prevPos)/(nextPos−prevPos) between its
    * nearest non-null neighbors; leading/trailing nulls stay null (the
    * interpolation counterpart of C3's forward fill). Two ignore-null
    * window scans over the same series shuffle — no extra exchange.
    * All arithmetic is IEEE-identical cross-engine; the display round is
    * the floor-grid quantization (see MarketQueries.i11Vwap). */
  val c10Interpolate: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val before = w.rowsBetween(Long.MinValue, 0)
    val after = w.rowsBetween(0, Long.MaxValue)
    val rn = row_number().over(w)
    nulled(s, dir)
      .withColumn("rn", rn)
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(before))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(after))
      .withColumn("pr", last(when(col("v").isNotNull, col("rn")), ignoreNulls = true).over(before))
      .withColumn("nr", first(when(col("v").isNotNull, col("rn")), ignoreNulls = true).over(after))
      .withColumn("filled",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull || col("nv").isNull, lit(null).cast("double"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("rn") - col("pr")).cast("double") / (col("nr") - col("pr")).cast("double"))))
      .select(col("event_id"), col("user_id"),
        q6(col("filled")).as("v"))
      .orderBy("user_id", "event_id")
  }

  val c10InterpolateSql: String = nulledCte +
    """,
      |r AS (
      |  SELECT event_id, user_id, ts, v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM e),
      |p AS (
      |  SELECT event_id, user_id, v, rn,
      |    last_value(v IGNORE NULLS) OVER wb AS pv,
      |    first_value(v IGNORE NULLS) OVER wa AS nv,
      |    last_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wb AS pr,
      |    first_value(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS) OVER wa AS nr
      |  FROM r
      |  WINDOW
      |    wb AS (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id,
      |  FLOOR((CASE WHEN v IS NOT NULL THEN v
      |              WHEN pv IS NULL OR nv IS NULL THEN NULL
      |              ELSE pv + (nv - pv) *
      |                (CAST(rn - pr AS DOUBLE) / CAST(nr - pr AS DOUBLE))
      |         END) * 1e6 + 0.5) / 1e6 AS v
      |FROM p
      |ORDER BY user_id, event_id""".stripMargin

  /** C11: IQR outlier detection per series — Tukey fences at
    * q1 − 1.5·IQR / q3 + 1.5·IQR from exact per-series quartiles,
    * reporting each series' outlier count and fence values. The
    * statistical sibling of C2's rule-based anomaly scan: one grouped
    * percentile aggregation, fences joined back (one row per series —
    * broadcast-sized), a conditional count. */
  val c11OutlierIqr: Q = (s, dir) => {
    val ev = Graft.events(s, dir)
    val bounds = ev.groupBy("user_id").agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .select("user_id", "lo", "hi")
    ev.join(broadcast(bounds), "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
          .otherwise(0L)).as("n_outliers"),
        q6(min(col("lo"))).as("lo"), q6(max(col("hi"))).as("hi"))
      .orderBy("user_id")
  }

  // Fences feed comparisons against raw grid values — exact Spark
  // percentile chain required, not quantile_cont (OracleSql scaladoc).
  val c11OutlierIqrSql: String =
    "WITH " + OracleSql.pctChain("b", "events", "value", Seq("user_id"),
      Seq("q1" -> "0.25", "q3" -> "0.75")) +
    """,
      |f AS (
      |  SELECT user_id,
      |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
      |  FROM b)
      |SELECT e.user_id, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  FLOOR(MIN(f.lo) * 1e6 + 0.5) / 1e6 AS lo,
      |  FLOOR(MAX(f.hi) * 1e6 + 0.5) / 1e6 AS hi
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  // Fixture chart payloads shared verbatim by both engines: AAA has a
  // null close (Jan 2); BBB's volume array is one short, exercising the
  // arrays_zip null-padding (reference pad_to(len(timestamp))).
  private val chartJsonA =
    """{"chart":{"result":[{"timestamp":[1704067200,1704153600,1704240000],"indicators":{"quote":[{"open":[10.0,11.0,12.0],"high":[10.5,11.5,12.5],"low":[9.5,10.5,11.5],"close":[10.2,null,12.2],"volume":[100,200,300]}]}}]}}"""
  private val chartJsonB =
    """{"chart":{"result":[{"timestamp":[1704153600,1704240000],"indicators":{"quote":[{"open":[20.0,21.0],"high":[20.5,21.5],"low":[19.5,20.5],"close":[20.2,21.2],"volume":[400]}]}}]}}"""

  /** S3: distributed chart-JSON parse (ingest.ChartJson) over inline
    * fixture payloads — oracle-checks the parse itself: array zip with
    * null padding, unix-seconds → UTC date, long volumes. The payload
    * frame is inline because the parse, not a source, is the operator
    * under test; at scale the same plan fans a (symbol, json) frame of
    * thousands of payloads across tasks. */
  val s3ChartParse: Q = (s, dir) => {
    import s.implicits._
    graft.ingest.ChartJson.parse(
      Seq(("AAA", chartJsonA), ("BBB", chartJsonB)).toDF("symbol", "json"))
      .orderBy("symbol", "date")
  }

  val s3ChartParseSql: String = {
    val path = "$.chart.result[0]"
    s"""WITH payloads(symbol, js) AS (VALUES
       |  ('AAA', '$chartJsonA'),
       |  ('BBB', '$chartJsonB')),
       |j AS (
       |  SELECT symbol,
       |    json_transform(js->'$path.timestamp', '["BIGINT"]') AS ts,
       |    json_transform(js->'$path.indicators.quote[0].open', '["DOUBLE"]') AS o,
       |    json_transform(js->'$path.indicators.quote[0].high', '["DOUBLE"]') AS h,
       |    json_transform(js->'$path.indicators.quote[0].low', '["DOUBLE"]') AS l,
       |    json_transform(js->'$path.indicators.quote[0].close', '["DOUBLE"]') AS c,
       |    json_transform(js->'$path.indicators.quote[0].volume', '["BIGINT"]') AS v
       |  FROM payloads)
       |SELECT symbol, CAST(make_timestamp(ts[i] * 1000000) AS DATE) AS date,
       |  o[i] AS open, h[i] AS high, l[i] AS low, c[i] AS close, v[i] AS volume
       |FROM j, UNNEST(range(1, len(ts) + 1)) t(i)
       |ORDER BY symbol, date""".stripMargin
  }

  /** C15: MAD-based robust anomaly detection — per series, the median
    * absolute deviation replaces IQR (c11) as the fence: |x − med| >
    * 3·MAD. MAD tolerates up to 50% contamination where IQR breaks at
    * 25%, the standard robust-statistics upgrade. Two keyed exact
    * percentiles (both interpolate identically cross-engine, the a5
    * precedent) + broadcast joins; the flag comparison runs on the
    * identical double chain so it can never disagree. */
  val c15AnomalyMad: Q = (s, dir) => {
    val ev = Graft.events(s, dir)
    val med = ev.groupBy("user_id").agg(expr("percentile(value, 0.5)").as("med"))
    val withMed = ev.join(broadcast(med), "user_id")
    val mad = withMed.groupBy("user_id")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_anomalies"),
        q6(min(col("med"))).as("med"), q6(min(col("mad"))).as("mad"))
      .orderBy("user_id")
  }

  val c15AnomalyMadSql: String =
    """WITH m AS (
      |  SELECT user_id, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT e.user_id, e.value, m.med
      |  FROM events e JOIN m ON e.user_id = m.user_id),
      |md AS (
      |  SELECT user_id, quantile_cont(ABS(value - med), 0.5) AS mad
      |  FROM d GROUP BY user_id)
      |SELECT d.user_id, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3.0 * md.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      |  FLOOR(MIN(d.med) * 1e6 + 0.5) / 1e6 AS med,
      |  FLOOR(MIN(md.mad) * 1e6 + 0.5) / 1e6 AS mad
      |FROM d JOIN md ON md.user_id = d.user_id
      |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "c15_anomaly_mad" -> c15AnomalyMad,
    "s3_chart_parse" -> s3ChartParse,
    "c11_outlier_iqr" -> c11OutlierIqr,
    "c10_interpolate" -> c10Interpolate,
    "c1_missing_report" -> c1MissingReport,
    "c2_anomalies" -> c2Anomalies,
    "c3_forward_fill" -> c3ForwardFill,
    "c4_drop_invalid" -> c4DropInvalid,
    "j1_calendar" -> j1Calendar,
    "j2_align" -> j2Align,
    "j3_pivot_wide" -> j3PivotWide,
  )

  def oracle: Map[String, String] = Map(
    "c15_anomaly_mad" -> c15AnomalyMadSql,
    "s3_chart_parse" -> s3ChartParseSql,
    "c11_outlier_iqr" -> c11OutlierIqrSql,
    "c10_interpolate" -> c10InterpolateSql,
    "c1_missing_report" -> c1MissingReportSql,
    "c2_anomalies" -> c2AnomaliesSql,
    "c3_forward_fill" -> c3ForwardFillSql,
    "c4_drop_invalid" -> c4DropInvalidSql,
    "j1_calendar" -> j1CalendarSql,
    "j2_align" -> j2AlignSql,
    "j3_pivot_wide" -> j3PivotWideSql,
  )
}
