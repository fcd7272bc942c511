package graft.analytics

import graft.ta.Technical
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Historical volatility + percentile risk classification (reference
  * algorithms/volatility.py — SURVEY.md §2.4 A4-A8).
  *
  * Scale shape: one shuffle for the per-series groupBy; the series count
  * (symbols/users) is orders of magnitude smaller than the row count, so
  * everything after the first aggregate is near-free. The global
  * percentile and rank run over #series rows only — the single-partition
  * window is fine because its input is already reduced (documented
  * deliberately: never run a global window over raw rows).
  */
object Volatility {

  val TradingDays = 252

  /** A4 (volatility.py:63-121): annualized vol = stddev_samp(log returns)
    * × √252 per series; 0.0 when fewer than 2 returns. */
  def annualized(df: DataFrame, price: Column, keys: Seq[String],
      order: Seq[Column]): DataFrame =
    fromReturns(logReturns(df, price, keys, order), df, keys)

  /** `df` plus the strict log return `ret` (volatility.py:30-56), rows
    * without a valid return dropped. */
  def logReturns(df: DataFrame, price: Column, keys: Seq[String],
      order: Seq[Column]): DataFrame =
    df.withColumn("ret", Technical.logReturnStrict(price, keys, order))
      .filter(col("ret").isNotNull)

  /** [[annualized]] from [[logReturns]]' output; `series` holds every
    * key that gets a vol. */
  def fromReturns(rets: DataFrame, series: DataFrame, keys: Seq[String]): DataFrame = {
    val vols = rets
      .groupBy(keys.map(col): _*)
      .agg((stddev_samp(col("ret")) * sqrt(lit(TradingDays.toDouble))).as("vol0"))
    // Series with <2 valid returns must yield 0.0, not disappear
    // (volatility.py:102-103) — re-join against the full key set.
    series.select(keys.map(col): _*).distinct()
      .join(vols, keys, "left")
      .withColumn("vol", coalesce(col("vol0"), lit(0.0)))
      .drop("vol0")
  }

  /** A5 (volatility.py:193-200): exact linear-interpolation percentiles —
    * matches Spark's `percentile`, NOT percentile_approx (SURVEY.md §7.4.5). */
  def thresholds(vols: DataFrame): DataFrame =
    vols.agg(
      expr("percentile(vol, 0.33)").as("p33"),
      expr("percentile(vol, 0.66)").as("p66"))

  /** A6+A8 (volatility.py:128-223): label each series Conservador (vol ≤
    * p33) / Moderado (≤ p66) / Agresivo, rank 1..k ascending by vol.
    * `tiebreak` keeps the rank deterministic on equal vols. */
  def classify(vols: DataFrame, tiebreak: Seq[Column]): DataFrame = {
    val th = thresholds(vols)
    val ranked = vols.crossJoin(broadcast(th))
      .withColumn("risk_class",
        when(col("vol") <= col("p33"), "Conservador")
          .when(col("vol") <= col("p66"), "Moderado")
          .otherwise("Agresivo"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("vol").asc +: tiebreak: _*)))
    ranked
  }

  /** A7 (volatility.py:282-286): count per risk class. */
  def summary(classified: DataFrame): DataFrame =
    classified.groupBy("risk_class").count()
}
