package graft.analytics

import graft.ta.Technical
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Historical volatility + percentile risk classification (reference
  * algorithms/volatility.py — SURVEY.md §2.4 A4-A8).
  *
  * Scale shape: the per-series log return is a window partitioned by
  * key, and the vol is one `groupBy(keys)` over its output, which that
  * window's partitioning already satisfies. Everything after it runs over
  * one row per series (symbols/users, orders of magnitude fewer than the
  * rows): the percentiles and the rank are ONE single-partition window
  * pass. That window is fine because its input is already reduced
  * (never run a global window over raw rows), but it is not free: each
  * stage costs 50–150 ms of scheduling at any input size, so the
  * classification adds one stage, not one per statistic.
  */
object Volatility {

  val TradingDays = 252

  /** A4 (volatility.py:63-121): annualized vol = stddev_samp(log returns)
    * × √252 per series; 0.0 when fewer than 2 returns. */
  def annualized(df: DataFrame, price: Column, keys: Seq[String],
      order: Seq[Column]): DataFrame =
    ofReturns(df.withColumn("ret", Technical.logReturnStrict(price, keys, order)), keys)

  /** [[annualized]] over a frame that already carries the strict log
    * return `ret` (volatility.py:30-56), null where a row has none. Every
    * key of `rets` gets one row: `stddev_samp` skips the null returns,
    * and a series with fewer than 2 returns gets 0.0
    * (volatility.py:102-103). */
  def ofReturns(rets: DataFrame, keys: Seq[String]): DataFrame =
    rets.groupBy(keys.map(col): _*)
      .agg(coalesce(stddev_samp(col("ret")) * sqrt(lit(TradingDays.toDouble)), lit(0.0)).as("vol"))

  /** A5 (volatility.py:193-200): exact linear-interpolation percentiles —
    * matches Spark's `percentile`, NOT percentile_approx (SURVEY.md §7.4.5). */
  def thresholds(vols: DataFrame): DataFrame =
    vols.agg(
      expr("percentile(vol, 0.33)").as("p33"),
      expr("percentile(vol, 0.66)").as("p66"))

  /** A6+A8 (volatility.py:128-223): label each series Conservador (vol ≤
    * p33) / Moderado (≤ p66) / Agresivo, rank 1..k ascending by vol.
    * `tiebreak` keeps the rank deterministic on equal vols. The
    * [[thresholds]] are computed over the whole frame in the same window
    * as the rank, so every row carries them. */
  def classify(vols: DataFrame, tiebreak: Seq[Column]): DataFrame = {
    val byVol = Window.orderBy(col("vol").asc +: tiebreak: _*)
    val all = byVol.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vols
      .withColumn("p33", expr("percentile(vol, 0.33)").over(all))
      .withColumn("p66", expr("percentile(vol, 0.66)").over(all))
      .withColumn("risk_class",
        when(col("vol") <= col("p33"), "Conservador")
          .when(col("vol") <= col("p66"), "Moderado")
          .otherwise("Agresivo"))
      .withColumn("rank", row_number().over(byVol))
  }

  /** A7 (volatility.py:282-286): count per risk class. */
  def summary(classified: DataFrame): DataFrame =
    classified.groupBy("risk_class").count()
}
