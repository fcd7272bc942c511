package graft

import graft.align.Alignment
import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.{ApiJson, BarsIO, PdfReport}
import graft.ta.Technical
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
  * `similarity.json`, `report.pdf` into `outDir`.
  *
  * A refresh splits its work at the k-bounded tail. Spark computes every
  * result that scales with rows, over ONE cached frame (the priced bars
  * with their log return): the vol aggregate and its classification,
  * the correlation triangle, and the pair similarity, one query each.
  * Each k-bounded result is collected once, and every payload that
  * shows it is rendered from those rows on the driver: both JSON
  * payloads, and the PDF tables as local frames, which Spark projects
  * and collects without a job. The symbol list is the CSV header's, read
  * without a job too ([[graft.io.BarsIO.headerSchema]]).
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
    val wide = BarsIO.readWideCsv(spark, csv)
    val syms = Alignment.wideSymbols(wide)
    val (symA, symB) = pair.getOrElse {
      if (syms.contains("VOO") && syms.contains("SPY")) ("VOO", "SPY")
      else (syms(0), syms(math.min(1, syms.length - 1)))
    }
    // The one cached frame: rows with a close, and their strict log
    // return (null on a series' first close and after a non-positive one).
    val priced = Alignment.wideToLong(wide).filter(col("close").isNotNull)
      .withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
      .cache()
    try {
      // /api/risk — annualized vol → tercile classification (A4-A8)
      val risk = Volatility.classify(Volatility.ofReturns(priced, keys), Seq(col("symbol")))
        .select("symbol", "vol", "risk_class", "rank", "p33", "p66").collect()
        .map(r => ApiJson.RiskRow(r.getString(0), r.getDouble(1), r.getString(2),
          r.getInt(3), r.getDouble(4), r.getDouble(5)))
        .toSeq.sortBy(_.rank)

      // /api/heatmap — Pearson over log returns, each pair once (A9/A10)
      val cells = Similarity.pairCorrelations(
        Similarity.withPos(priced.filter(col("ret").isNotNull)
          .select(col("symbol"), col("date"), col("ret").as("v")), keys, order),
        "symbol").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq

      // /api/similarity — the X3 façade (euclidean/pearson/DTW/cosine)
      val sim = CompareAssets.compare(priced, symA, symB)

      def write(name: String, text: String): String = {
        Files.write(Paths.get(outDir, name), (text + "\n").getBytes("UTF-8"))
        name
      }
      val jsons = Seq(
        write("symbols.json", ApiJson.symbols(syms)),
        write("risk.json", ApiJson.risk(risk)),
        write("heatmap.json", ApiJson.heatmap(cells)),
        write("similarity.json", ApiJson.similarity(symA, symB, sim)))

      // the PDF report sink over the same rows (S9)
      def local(rows: Seq[Row], schema: String): DataFrame =
        spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))
      val volTable = local(risk.map(r => Row(r.rank, r.symbol, r.vol, r.riskClass)),
          "rank INT, symbol STRING, vol DOUBLE, risk_class STRING")
        .select(col("rank"), col("symbol"), round(col("vol") * 100, 2).as("vol_pct"),
          col("risk_class"))
      val pearson = local(cells.collect { case (a, b, c) if a != b => Row(a, b, c) },
          "ka STRING, kb STRING, corr DOUBLE")
        .select(col("ka"), col("kb"), round(col("corr"), 4).as("pearson"))
      // desc(pearson), then ka, then kb, in Spark's binary string order
      val byCorr = Ordering.Tuple3(Ordering.Double.TotalOrdering.reverse,
        CompareAssets.binaryStringOrder, CompareAssets.binaryStringOrder)
      val top = pearson.collect().toSeq
        .sortBy(r => (r.getDouble(2), r.getString(0), r.getString(1)))(byCorr).take(10)
      val topCorr = spark.createDataFrame(top.asJava, pearson.schema)
      PdfReport.write(s"$outDir/report.pdf", "Portfolio analytics report",
        s"source: $csv — ${syms.length} symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)", volTable),
          PdfReport.Section("Top-10 correlated pairs", topCorr)))
      jsons :+ "report.pdf"
    } finally priced.unpersist()
  }
}
