package graft

import graft.align.Alignment
import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.{ApiJson, PdfReport}
import graft.ta.Technical
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Path, Paths}

/** `Dashboard.run` over a committed synthetic wide CSV
  * (`dashboard_wide.csv`: 5 symbols × 40 dates; ZZZ has no close at all,
  * VOO lacks 2 closes and SPY 1): the composed artifacts, their shapes,
  * ceilings on the Spark jobs one similarity request and one refresh may
  * run, and byte identity with the formulation that cached four frames
  * and collected each payload by its own query. */
class DashboardRefreshSpec extends SparkSpec {

  private val csv = Paths.get(getClass.getResource("/dashboard_wide.csv").toURI).toString

  private def json(dir: java.nio.file.Path, name: String): JValue =
    JsonMethods.parse(Files.readString(dir.resolve(name)))

  test("a refresh writes all five artifacts with the right shapes") {
    val tmp = Files.createTempDirectory("graftrefresh")
    try {
      val files = Dashboard.run(spark, csv, tmp.toString)
      assert(files == Seq("symbols.json", "risk.json", "heatmap.json",
        "similarity.json", "report.pdf"))

      assert((json(tmp, "symbols.json") \ "symbols") ==
        JArray(List("AAA", "BBB", "SPY", "VOO", "ZZZ").map(JString(_))))

      // ZZZ has no price, so no vol and no returns
      val risk = json(tmp, "risk.json")
      val JArray(cls) = (risk \ "classifications"): @unchecked
      assert(cls.map(c => (c \ "rank").asInstanceOf[JInt].num.toInt) == List(1, 2, 3, 4))
      assert(cls.map(c => (c \ "symbol").asInstanceOf[JString].s).sorted ==
        List("AAA", "BBB", "SPY", "VOO"))
      val JObject(summary) = (risk \ "summary"): @unchecked
      assert(summary.map(_._1) == List("Conservador", "Moderado", "Agresivo"))
      assert(summary.map(_._2.asInstanceOf[JInt].num.toInt).sum == 4)

      val heat = json(tmp, "heatmap.json")
      assert((heat \ "symbols") == JArray(List("AAA", "BBB", "SPY", "VOO").map(JString(_))))
      val m = (heat \ "matrix").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JArray].arr.map(_.asInstanceOf[JDouble].num))
      assert(m.length == 4 && m.forall(_.length == 4))
      for (i <- 0 until 4; j <- 0 until 4) {
        assert(m(i)(j) == m(j)(i) && math.abs(m(i)(j)) <= 1.0)
        if (i == j) assert(m(i)(j) == 1.0)
      }

      // default pair VOO/SPY: 40 dates less 3 missing closes align 37
      val sim = json(tmp, "similarity.json")
      assert((sim \ "symbol_a") == JString("VOO") && (sim \ "symbol_b") == JString("SPY"))
      assert((sim \ "metrics" \ "n_points") == JInt(36))
      assert(List("euclidean", "pearson", "dtw", "cosine")
        .forall(k => (sim \ "metrics" \ k).isInstanceOf[JDouble]))

      val pdf = Files.readAllBytes(tmp.resolve("report.pdf"))
      assert(new String(pdf.take(5), "ISO-8859-1") == "%PDF-")
      assert(new String(pdf, "ISO-8859-1").trim.endsWith("%%EOF"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("job ceilings: similarity <= 2 jobs, refresh <= 8 jobs in 3 queries") {
    val tmp = Files.createTempDirectory("graftrefresh")
    val bars = graft.io.BarsIO.readLong(spark, csv).cache()
    try {
      bars.count()
      val (r, compareJobs, _) = jobs(CompareAssets.compare(bars, "AAA", "BBB"))
      assert(r.n_points == 39L)
      assert(compareJobs <= 2, s"compare ran $compareJobs jobs")
      val (_, refreshJobs, refreshQueries) =
        jobs(Dashboard.run(spark, csv, tmp.toString, Some(("AAA", "BBB"))))
      assert(refreshJobs <= 8, s"refresh ran $refreshJobs jobs")
      // risk, heatmap and similarity; the PDF tables are local frames
      assert(refreshQueries <= 3, s"refresh ran jobs for $refreshQueries SQL executions")
      info(s"compare: $compareJobs jobs, refresh: $refreshJobs jobs in $refreshQueries SQL executions")
    } finally {
      bars.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** `Dashboard.run` as it was when every payload ran its own query: the
    * wide CSV read with an inferred schema, the bars, returns,
    * classification and full heatmap cached, the vol as an aggregate
    * left-joined to the distinct keys, the thresholds as an aggregate
    * cross-joined to the vols, the symbols from a `distinct` job, and the
    * PDF tables sorted and limited by Spark. Kept as the reference the
    * refresh must match byte for byte. */
  private def referenceRun(csv: String, outDir: Path): Unit = {
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    var cached = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached ::= df.cache(); df }
    try {
      val raw = spark.read.option("header", "true").option("nullValue", "None")
        .option("emptyValue", "").csv(csv)
      val typed = raw.columns.map {
        case "Date" => col("Date")
        case c if c.endsWith("_Volume") =>
          when(col(c) === "" || col(c) === "None", lit(null)).otherwise(col(c))
            .cast("long").as(c)
        case c =>
          when(col(c) === "" || col(c) === "None", lit(null)).otherwise(col(c))
            .cast("double").as(c)
      }
      val bars = keep(Alignment.wideToLong(raw.select(typed.toIndexedSeq: _*)))
      val priced = bars.filter(col("close").isNotNull)
      val rets = keep(priced
        .withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
        .filter(col("ret").isNotNull))

      val vols0 = rets.groupBy(keys.map(col): _*)
        .agg((stddev_samp(col("ret")) * sqrt(lit(252.0))).as("vol0"))
      val vols = priced.select(keys.map(col): _*).distinct()
        .join(vols0, keys, "left")
        .withColumn("vol", coalesce(col("vol0"), lit(0.0)))
        .drop("vol0")
      val classified = keep(vols.crossJoin(broadcast(Volatility.thresholds(vols)))
        .withColumn("risk_class",
          when(col("vol") <= col("p33"), "Conservador")
            .when(col("vol") <= col("p66"), "Moderado")
            .otherwise("Agresivo"))
        .withColumn("rank", row_number().over(Window.orderBy(col("vol").asc, col("symbol")))))

      val posed = Similarity.withPos(rets.select(col("symbol"), col("date"),
        col("ret").as("v")), keys, order)
      val a = posed.select(col("symbol").as("ka"), col("pos"), col("v").as("va"))
      val b = posed.select(col("symbol").as("kb"), col("pos"), col("v").as("vb"))
      val upper = a.join(b, "pos").filter(col("ka") < col("kb"))
        .groupBy("ka", "kb")
        .agg(coalesce(corr(col("va"), col("vb")), lit(0.0)).as("corr"))
        .transform(Graft.materialize)
      val heat = keep(upper
        .unionByName(upper.select(col("kb").as("ka"), col("ka").as("kb"), col("corr")))
        .unionByName(posed.select(col("symbol").as("ka")).distinct()
          .select(col("ka"), col("ka").as("kb"), lit(1.0).as("corr"))))

      val syms = bars.select("symbol").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val (symA, symB) =
        if (syms.contains("VOO") && syms.contains("SPY")) ("VOO", "SPY")
        else (syms(0), syms(math.min(1, syms.length - 1)))
      val sim = CompareAssets.compare(bars, symA, symB)

      def write(name: String, text: String): Unit =
        Files.write(outDir.resolve(name), (text + "\n").getBytes("UTF-8"))
      write("symbols.json", ApiJson.symbols(syms))
      write("risk.json", ApiJson.risk(classified))
      write("heatmap.json", ApiJson.heatmap(heat))
      write("similarity.json", ApiJson.similarity(symA, symB, sim))

      val volTable = classified.select(col("rank"), col("symbol"),
        round(col("vol") * 100, 2).as("vol_pct"), col("risk_class"))
        .orderBy("rank")
      val topCorr = heat.filter(col("ka") < col("kb"))
        .select(col("ka"), col("kb"), round(col("corr"), 4).as("pearson"))
        .orderBy(desc("pearson"), col("ka"), col("kb")).limit(10)
      PdfReport.write(outDir.resolve("report.pdf").toString, "Portfolio analytics report",
        s"source: $csv — ${syms.length} symbols",
        Seq(PdfReport.Section("Risk classification (annualized volatility)", volTable),
          PdfReport.Section("Top-10 correlated pairs", topCorr)))
    } finally cached.foreach(_.unpersist())
  }

  /** Every artifact of a refresh over `csv` equals the reference's, byte
    * for byte (both PDFs name the same source path). */
  private def assertSameArtifacts(csv: String): Unit = {
    val got = Files.createTempDirectory("graftrefresh")
    val want = Files.createTempDirectory("graftrefresh")
    try {
      val files = Dashboard.run(spark, csv, got.toString)
      referenceRun(csv, want)
      for (f <- files) {
        val (g, w) = (Files.readAllBytes(got.resolve(f)), Files.readAllBytes(want.resolve(f)))
        assert(g.sameElements(w), s"$f differs:\n${new String(g, "ISO-8859-1")}\n" +
          s"reference:\n${new String(w, "ISO-8859-1")}")
      }
    } finally Seq(got, want).foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
  }

  test("payload identity: dashboard_wide.csv renders as the reference does") {
    assertSameArtifacts(csv)
  }

  test("payload identity: single close, no close, and top-10 ties at 4 dp") {
    // Nine symbols over 60 days. CCC is AAA's closes ×3, so its returns
    // differ from AAA's only in the last bits: BBB, a noisy copy of AAA,
    // correlates with both at the same 4-dp value, a tie inside the
    // top-10 that the pair's names break; DDD ties likewise further down.
    // EEE has exactly one close (a risk row with vol 0.0 but no heatmap
    // cell), FFF has none (a symbol only), GGG has gaps.
    val rnd = new scala.util.Random(7)
    val syms = Seq("AAA", "BBB", "CCC", "DDD", "EEE", "FFF", "GGG", "HHH", "III")
    def walk(n: Int): Vector[Double] =
      Vector.iterate(100.0, n)(p => p * math.exp(0.02 * rnd.nextGaussian()))
    val n = 60
    val aaa = walk(n)
    val bbb = aaa.map(p => p * math.exp(0.005 * rnd.nextGaussian()))
    val ddd = walk(n)
    val Seq(ggg, hhh, iii) = Seq.fill(3)(walk(n))
    def fmt(d: Double): String = f"$d%.2f"
    val closes: Map[String, Int => Option[String]] = Map(
      "AAA" -> (i => Some(fmt(aaa(i)))),
      "BBB" -> (i => Some(fmt(bbb(i)))),
      "CCC" -> (i => Some(fmt(BigDecimal(fmt(aaa(i))).*(3).toDouble))),
      "DDD" -> (i => Some(fmt(ddd(i)))),
      "EEE" -> (i => if (i == 17) Some("42.50") else None),
      "FFF" -> (_ => None),
      "GGG" -> (i => if (i % 11 == 5) None else Some(fmt(ggg(i)))),
      "HHH" -> (i => Some(fmt(hhh(i)))),
      "III" -> (i => Some(fmt(iii(i)))))
    val start = java.time.LocalDate.of(2023, 3, 1)
    val header = "Date" +: syms.flatMap(s =>
      Seq("Open", "High", "Low", "Close", "Volume").map(f => s"${s}_$f"))
    val lines = (0 until n).map { i =>
      (start.plusDays(i).toString +: syms.flatMap { s =>
        val c = closes(s)(i).getOrElse("None")
        Seq(c, c, c, c, (1000 + i).toString)
      }).mkString(",")
    }
    val dir = Files.createTempDirectory("graftrefreshcsv")
    try {
      val path = dir.resolve("wide.csv")
      Files.writeString(path, (header.mkString(",") +: lines).mkString("\n") + "\n")
      assertSameArtifacts(path.toString)

      // the fixture has the shape it claims: ties at 4 dp in the top-10
      val out = Files.createTempDirectory("graftrefresh")
      try {
        Dashboard.run(spark, path.toString, out.toString)
        val heat = json(out, "heatmap.json")
        val hs = (heat \ "symbols").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
        assert(hs == List("AAA", "BBB", "CCC", "DDD", "GGG", "HHH", "III"))
        val m = (heat \ "matrix").asInstanceOf[JArray].arr
          .map(_.asInstanceOf[JArray].arr.map(_.asInstanceOf[JDouble].num))
        def c(x: String, y: String): Double = m(hs.indexOf(x))(hs.indexOf(y))
        assert(c("AAA", "BBB") == c("BBB", "CCC") && c("AAA", "DDD") == c("CCC", "DDD"))
        val top10 = hs.combinations(2).map(p => c(p(0), p(1))).toSeq.sorted.reverse.take(10)
        assert(top10.count(_ == c("AAA", "BBB")) >= 2, top10)
        val risk = json(out, "risk.json")
        val JArray(cls) = (risk \ "classifications"): @unchecked
        assert(cls.map(r => (r \ "symbol").asInstanceOf[JString].s).sorted ==
          List("AAA", "BBB", "CCC", "DDD", "EEE", "GGG", "HHH", "III"))
        assert(cls.exists(r => r \ "symbol" == JString("EEE") && r \ "volatility" == JDouble(0.0)))
      } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
