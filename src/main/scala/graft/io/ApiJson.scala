package graft.io

import graft.analytics.CompareAssets.SimilarityResult
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S10 — the reference's JSON API payloads (`app.py:156-487`) as an
  * engine sink. The Flask layer itself is out of engine scope (SURVEY
  * §2.1), but its RESPONSE SHAPES are not: each endpoint serializes a
  * small analytics result, and this module renders the engine's frames
  * into byte-compatible payload JSON, so a service in front of the
  * engine only routes strings.
  *
  * API-edge materialization is driver-side BY DESIGN: every payload is
  * bounded by the portfolio size (k symbols, k² matrix cells, one
  * metrics struct — never row-scale data), which is the one place
  * `collect()` is the correct plan at any corpus scale. The heavy
  * lifting (vol pipeline, correlation matrix, DTW) stays distributed
  * upstream.
  *
  * Rendering is dependency-free (no json4s coupling): keys are emitted
  * in the reference's insertion order, doubles through the same
  * fixed-dp rounding the endpoints apply (`round(x, 4|6|2)`),
  * integral doubles as `1.0` (Python float repr).
  */
object ApiJson {

  /** `s` as a JSON string literal: quote and backslash escaped, `\n`,
    * `\r`, `\t` short-escaped and every other control character as
    * `\u00XX`. The one JSON string encoder of every payload, artifact
    * and probe record. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Python-float repr: integral doubles keep one decimal (1.0), others
    * print shortest (matches jsonify of round()ed floats). */
  private def jnum(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15)
      s"${d.toLong}.0"
    else d.toString

  private def round(d: Double, dp: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `/api/symbols` (app.py:156-159): sorted symbol list. */
  def symbols(bars: DataFrame, keyCol: String = "symbol"): String =
    symbols(bars.select(col(keyCol)).distinct()
      .orderBy(keyCol).collect().map(_.getString(0)).toSeq)

  /** `/api/symbols` from an already-collected, sorted symbol list. */
  def symbols(syms: Seq[String]): String =
    s"""{"symbols": [${syms.map(jstr).mkString(", ")}]}"""

  /** `/api/heatmap` (app.py:322-353): dense correlation matrix from the
    * engine's long-form heatmap frame (ka, kb, corr — diag included). */
  def heatmap(corrLong: DataFrame): String =
    heatmap(corrLong.select("ka", "kb", "corr").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq)

  /** `/api/heatmap` from collected (ka, kb, corr) cells holding each pair
    * of symbols in at least one orientation: the full matrix or its
    * triangle. Cells round to 4 dp like the endpoint and the diagonal
    * reads 1.0; symbol order is sorted (the engine's deterministic
    * stand-in for the reference's dataset column order). */
  def heatmap(cells: Seq[(String, String, Double)]): String = {
    val byPair = cells.map { case (a, b, c) => (a, b) -> round(c, 4) }.toMap
    val syms = cells.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    val matrix = syms.map { a =>
      syms.map(b => jnum(if (a == b) 1.0 else byPair.getOrElse((a, b), byPair((b, a)))))
        .mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    s"""{"symbols": [${syms.map(jstr).mkString(", ")}], "matrix": $matrix}"""
  }

  /** One series of the risk classification, as [[graft.analytics.Volatility.classify]]
    * emits it (the thresholds repeat on every row). */
  final case class RiskRow(symbol: String, vol: Double, riskClass: String, rank: Int,
      p33: Double, p66: Double)

  /** `/api/risk` (app.py:447-482) from the engine's classify frame
    * (symbol, vol, risk_class, rank, p33, p66 — Volatility.classify's
    * exact output). */
  def risk(classified: DataFrame, keyCol: String = "symbol"): String =
    risk(classified.select(col(keyCol), col("vol"), col("risk_class"),
        col("rank"), col("p33"), col("p66")).collect()
      .map(r => RiskRow(r.getString(0), r.getDouble(1), r.getString(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5))).toSeq)

  /** `/api/risk`: classifications (rank order) + thresholds + class
    * counts. Summary keys are the capitalized class labels
    * (volatility.py:282, which the endpoint passes through verbatim). */
  def risk(rows: Seq[RiskRow]): String = {
    val ranked = rows.sortBy(_.rank)
    val cls = ranked.map { r =>
      s"""{"symbol": ${jstr(r.symbol)}, "volatility": ${jnum(round(r.vol, 6))}, "volatility_pct": ${jnum(round(r.vol * 100, 2))}, "risk_class": ${jstr(r.riskClass)}, "rank": ${r.rank}}"""
    }.mkString("[", ", ", "]")
    val counts = ranked.groupBy(_.riskClass).view.mapValues(_.length).toMap
    val summary = Seq("Conservador", "Moderado", "Agresivo")
      .map(k => s"${jstr(k)}: ${counts.getOrElse(k, 0)}").mkString("{", ", ", "}")
    val (p33, p66) = ranked.headOption.fold((0.0, 0.0))(r => (r.p33, r.p66))
    s"""{"classifications": $cls, "thresholds": {"p33": ${jnum(round(p33, 6))}, "p66": ${jnum(round(p66, 6))}}, "summary": $summary}"""
  }

  /** `/api/similarity` metrics block (app.py:286-300): the four metrics
    * rounded to 6 dp plus the aligned point count. */
  def similarity(symA: String, symB: String, r: SimilarityResult): String =
    s"""{"symbol_a": ${jstr(symA)}, "symbol_b": ${jstr(symB)}, "metrics": {"euclidean": ${jnum(round(r.euclidean, 6))}, "pearson": ${jnum(round(r.pearson, 6))}, "dtw": ${jnum(round(r.dtw, 6))}, "cosine": ${jnum(round(r.cosine, 6))}, "n_points": ${r.n_points}}}"""
}
