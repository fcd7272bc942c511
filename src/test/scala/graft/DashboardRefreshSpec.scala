package graft

import graft.analytics.CompareAssets
import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.nio.file.{Files, Paths}

/** `Dashboard.run` over a committed synthetic wide CSV
  * (`dashboard_wide.csv`: 5 symbols × 40 dates; ZZZ has no close at all,
  * VOO lacks 2 closes and SPY 1): the composed artifacts, their shapes,
  * and ceilings on the Spark jobs one similarity request and one refresh
  * may run. */
class DashboardRefreshSpec extends SparkSpec {

  private val csv = Paths.get(getClass.getResource("/dashboard_wide.csv").toURI).toString

  /** Spark jobs started by `f`, counted under a job group of its own. */
  private def jobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    var n = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n += 1
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = f
      GraftCoreBridge.drainListenerBus(sc)
      (out, listener.synchronized(n))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

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

  test("job ceilings: one similarity request <= 2 jobs, one refresh <= 25") {
    val tmp = Files.createTempDirectory("graftrefresh")
    val bars = graft.io.BarsIO.readLong(spark, csv).cache()
    try {
      bars.count()
      val (r, compareJobs) = jobs(CompareAssets.compare(bars, "AAA", "BBB"))
      assert(r.n_points == 39L)
      assert(compareJobs <= 2, s"compare ran $compareJobs jobs")
      val (_, refreshJobs) = jobs(Dashboard.run(spark, csv, tmp.toString, Some(("AAA", "BBB"))))
      assert(refreshJobs <= 25, s"refresh ran $refreshJobs jobs")
      info(s"compare: $compareJobs jobs, refresh: $refreshJobs jobs")
    } finally {
      bars.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
