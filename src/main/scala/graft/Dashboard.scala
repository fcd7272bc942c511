package graft

import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.{ApiJson, BarsIO, PdfReport}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The reference workload end-to-end, offline, as one `runMain`: wide
  * CSV source → vol/risk pipeline → correlation heatmap → pair
  * similarity (incl. DTW) → every dashboard JSON payload
  * (`app.py:156-487` shapes via [[graft.io.ApiJson]]) + the PDF report
  * sink ([[graft.io.PdfReport]]).
  *
  * {{{
  * sbt "runMain graft.Dashboard [wideCsv] [outDir] [symA symB]"
  * // defaults: /root/reference/data/dataset_maestro.csv target/dashboard VOO SPY
  * }}}
  *
  * Writes `symbols.json`, `risk.json`, `heatmap.json`,
  * `similarity.json`, `report.pdf` into `outDir`. Every result with two
  * consumers is computed once per run: the symbol list (default pair,
  * `symbols.json`, PDF subtitle), the log returns (vol/risk and
  * heatmap), the classification (`risk.json`, PDF table) and the
  * heatmap (`heatmap.json`, PDF top-10). Payload renders collect only
  * k-bounded frames (see ApiJson's scaladoc).
  */
object Dashboard {
  def main(args: Array[String]): Unit = {
    val csv = if (args.length > 0) args(0) else "/root/reference/data/dataset_maestro.csv"
    val outDir = if (args.length > 1) args(1) else "target/dashboard"
    val spark = Graft.envSession()
    try {
      Files.createDirectories(Paths.get(outDir))
      val out = run(spark, csv, outDir,
        if (args.length > 3) Some((args(2), args(3))) else None)
      println(s"[dashboard] wrote ${out.mkString(", ")} to $outDir")
    } finally spark.stop()
  }

  /** Builds every artifact; returns the written file names. Separated
    * from main so a spec can drive it on the session it owns. */
  def run(spark: SparkSession, csv: String, outDir: String,
      pair: Option[(String, String)] = None): Seq[String] = {
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    // Frames with two consumers are cached once. `cached` lists
    // dependents first, so each is released before the frame it reads.
    var cached = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached ::= df.cache(); df }
    try {
      val bars = keep(BarsIO.readLong(spark, csv))
      val priced = bars.filter(col("close").isNotNull)
      val rets = keep(Volatility.logReturns(priced, col("close"), keys, order))

      // /api/risk — annualized vol → tercile classification (A4-A8)
      val classified = keep(Volatility.classify(
        Volatility.fromReturns(rets, priced, keys), Seq(col("symbol"))))

      // /api/heatmap — Pearson over log returns, all pairs (A9/A10)
      val heat = keep(Similarity.heatmap(
        Similarity.withPos(rets.select(col("symbol"), col("date"),
          col("ret").as("v")), keys, order),
        "symbol"))

      // /api/similarity — the X3 façade (euclidean/pearson/DTW/cosine)
      val syms = bars.select("symbol").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val (symA, symB) = pair.getOrElse {
        if (syms.contains("VOO") && syms.contains("SPY")) ("VOO", "SPY")
        else (syms(0), syms(math.min(1, syms.length - 1)))
      }
      val sim = CompareAssets.compare(bars, symA, symB)

      def write(name: String, text: String): String = {
        Files.write(Paths.get(outDir, name), (text + "\n").getBytes("UTF-8"))
        name
      }
      val jsons = Seq(
        write("symbols.json", ApiJson.symbols(syms)),
        write("risk.json", ApiJson.risk(classified)),
        write("heatmap.json", ApiJson.heatmap(heat)),
        write("similarity.json", ApiJson.similarity(symA, symB, sim)))

      // the PDF report sink over the same result frames (S9)
      val volTable = classified.select(col("rank"), col("symbol"),
        round(col("vol") * 100, 2).as("vol_pct"), col("risk_class"))
        .orderBy("rank")
      val topCorr = heat.filter(col("ka") < col("kb"))
        .select(col("ka"), col("kb"), round(col("corr"), 4).as("pearson"))
        .orderBy(desc("pearson"), col("ka"), col("kb")).limit(10)
      PdfReport.write(s"$outDir/report.pdf", "Portfolio analytics report",
        s"source: $csv — ${syms.length} symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)", volTable),
          PdfReport.Section("Top-10 correlated pairs", topCorr)))
      jsons :+ "report.pdf"
    } finally cached.foreach(_.unpersist())
  }
}
