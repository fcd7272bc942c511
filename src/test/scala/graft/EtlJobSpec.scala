package graft

import graft.etl.EtlJob
import org.apache.spark.sql.functions._

/** End-to-end ETL: two fixture chart-JSON payloads with holes and
  * disjoint calendars → parse, ffill, align, wide CSV round-trip. */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  // AAA trades Jan 1-3 with a missing close on Jan 2 (ffill target);
  // BBB trades Jan 2-4 (disjoint edges -> null-padded alignment).
  private val jsonA =
    """{"chart":{"result":[{"timestamp":[1704067200,1704153600,1704240000],
      |"indicators":{"quote":[{"open":[10.0,11.0,12.0],"high":[10.5,11.5,12.5],
      |"low":[9.5,10.5,11.5],"close":[10.2,null,12.2],"volume":[100,200,300]}]}}]}}"""
      .stripMargin.replace("\n", "")
  private val jsonB =
    """{"chart":{"result":[{"timestamp":[1704153600,1704240000,1704326400],
      |"indicators":{"quote":[{"open":[20.0,21.0,22.0],"high":[20.5,21.5,22.5],
      |"low":[19.5,20.5,21.5],"close":[20.2,21.2,22.2],"volume":[400,500,600]}]}}]}}"""
      .stripMargin.replace("\n", "")

  test("parse -> ffill -> align -> report, with null padding at the edges") {
    val payloads = Seq(("AAA", jsonA), ("BBB", jsonB)).toDF("symbol", "json")
    val (aligned, report) = EtlJob.run(payloads)
    assert(report.symbols == 2)
    assert(report.calendarDays == 4)         // union of Jan 1-3 and Jan 2-4
    assert(report.alignedRows == 8)          // 4 days x 2 symbols
    assert(report.missingClose == 2)         // AAA@Jan4, BBB@Jan1
    assert(report.anomalies == 0)
    // ffill: AAA Jan 2 close was null -> carried 10.2
    val a2 = aligned.filter(col("symbol") === "AAA" &&
      col("date") === lit(java.sql.Date.valueOf("2024-01-02"))).head()
    assert(a2.getAs[Double]("close") == 10.2)
  }

  test("connector: retries timeouts only, gates on minSuccess, feeds the full pipeline") {
    import graft.ingest.{ChartSource, Connector, FetchTimeout}
    val fixtures = Map("AAA" -> jsonA, "BBB" -> jsonB)
    // AAA times out twice then succeeds (within the 3-attempt budget);
    // CCC always 404s (non-retryable: must fail after ONE attempt);
    // DDD returns an empty payload (counts as failure per the gate)
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val source = new ChartSource {
      def fetch(symbol: String, p1: Long, p2: Long): String = {
        calls(symbol) += 1
        symbol match {
          case "AAA" if calls("AAA") <= 2 => throw new FetchTimeout("timed out")
          case "CCC" => throw new RuntimeException("HTTP error 404")
          case "DDD" => ""
          case s => fixtures(s)
        }
      }
    }
    val res = Connector.fetchAll(spark, source,
      Seq("AAA", "BBB", "CCC", "DDD"), 0L, 1L, minSuccess = 2)
    assert(res.report.succeeded == Seq("AAA", "BBB"))
    assert(res.report.failed.map(_._1) == Seq("CCC", "DDD"))
    assert(calls("AAA") == 3, "two timeouts then success")
    assert(calls("CCC") == 1, "non-timeout errors must not be retried")
    // the fetched frame drives the §3.1 lifecycle end-to-end offline
    val (_, report) = EtlJob.run(res.payloads)
    assert(report.symbols == 2 && report.alignedRows == 8)

    // gate: raising minSuccess above the achievable count throws
    val e = intercept[IllegalStateException] {
      Connector.fetchAll(spark, source, Seq("CCC", "DDD"), 0L, 1L, minSuccess = 1)
    }
    assert(e.getMessage.contains("minSuccess"))

    // a symbol that times out on EVERY attempt fails (and is skipped by
    // the batch), after exactly maxAttempts tries
    calls.clear()
    val allTimeout = new ChartSource {
      def fetch(symbol: String, p1: Long, p2: Long): String = {
        calls(symbol) += 1; throw new FetchTimeout("timeout")
      }
    }
    intercept[FetchTimeout] {
      Connector.fetchWithRetry(allTimeout, "XXX", 0L, 1L, maxAttempts = 3)
    }
    assert(calls("XXX") == 3)
  }

  test("connector: an interrupt stops the batch instead of failing one symbol") {
    import graft.ingest.{ChartSource, Connector}
    val calls = scala.collection.mutable.ListBuffer[String]()
    val source = new ChartSource {
      def fetch(symbol: String, p1: Long, p2: Long): String = {
        calls += symbol
        if (symbol == "BBB") throw new InterruptedException("shutting down") else jsonA
      }
    }
    intercept[InterruptedException] {
      Connector.fetchAll(spark, source, Seq("AAA", "BBB", "CCC"), 0L, 1L, minSuccess = 1)
    }
    assert(calls.toSeq == Seq("AAA", "BBB"), "no symbol is fetched after the interrupt")
  }

  test("sinks: parquet + wide CSV round-trip through the compat reader") {
    val payloads = Seq(("AAA", jsonA), ("BBB", jsonB)).toDF("symbol", "json")
    val dir = java.nio.file.Files.createTempDirectory("graftetl").toString
    val report = EtlJob.runWithSinks(payloads, s"$dir/bars.parquet", s"$dir/wide_csv")
    assert(report.alignedRows == 8)
    val back = spark.read.parquet(s"$dir/bars.parquet")
    assert(back.count() == 8)
    val csvFile = new java.io.File(s"$dir/wide_csv").listFiles()
      .filter(_.getName.endsWith(".csv")).head.getPath
    val wide = graft.io.BarsIO.readWideCsv(spark, csvFile)
    assert(wide.count() == 4)
    assert(wide.columns.count(_.endsWith("_Close")) == 2)
    // the reference's "None" literal appears for missing cells and reads
    // back as null
    val longAgain = graft.io.BarsIO.readLong(spark, csvFile)
    assert(longAgain.filter(col("close").isNull).count() == 2)
  }
}
