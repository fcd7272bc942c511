package graft

import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.io.ApiJson
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** S10 payload sink: the rendered JSON must parse and carry the
  * reference endpoints' exact field structure (app.py:156-487). */
class ApiJsonSpec extends SparkSpec {
  import spark.implicits._

  private def bars = Seq(
    // three series with distinct volatility ordering
    ("A", 1, 100.0), ("A", 2, 101.0), ("A", 3, 100.5), ("A", 4, 101.2),
    ("B", 1, 100.0), ("B", 2, 110.0), ("B", 3, 95.0), ("B", 4, 120.0),
    ("C", 1, 100.0), ("C", 2, 103.0), ("C", 3, 99.0), ("C", 4, 104.0)
  ).toDF("symbol", "date", "close")

  test("symbols payload: sorted list, exact shape") {
    assert(ApiJson.symbols(bars) === """{"symbols": ["A", "B", "C"]}""")
  }

  test("jstr: quotes, backslashes and control characters parse back unchanged") {
    val s = "say \"hi\" \\ C:\\tmp\nnext\u0001end\t\r"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(ApiJson.jstr(s), classOf[String])
    assert(parsed === s)
  }

  test("risk payload: rank-ordered classifications, thresholds, class counts") {
    val vols = Volatility.annualized(bars, col("close"), Seq("symbol"), Seq(col("date")))
    val json = ApiJson.risk(Volatility.classify(vols, Seq(col("symbol"))))
    val p = JsonMethods.parse(json)
    val JArray(cls) = (p \ "classifications"): @unchecked
    assert(cls.length === 3)
    // ranks are 1..k in order; volatility ascending
    val ranks = cls.map(c => (c \ "rank").asInstanceOf[JInt].num.toInt)
    assert(ranks === List(1, 2, 3))
    val vlist = cls.map(c => (c \ "volatility").asInstanceOf[JDouble].num)
    assert(vlist === vlist.sorted)
    // every classification carries the endpoint's five fields
    cls.foreach { c =>
      assert((c \ "symbol").isInstanceOf[JString])
      assert((c \ "volatility_pct").isInstanceOf[JDouble])
      assert((c \ "risk_class").isInstanceOf[JString])
    }
    // summary counts total k, keyed by the capitalized labels
    val total = Seq("Conservador", "Moderado", "Agresivo")
      .map(k => (p \ "summary" \ k).asInstanceOf[JInt].num.toInt).sum
    assert(total === 3)
    assert((p \ "thresholds" \ "p33").isInstanceOf[JDouble])
    assert((p \ "thresholds" \ "p66").isInstanceOf[JDouble])
  }

  test("heatmap payload: symmetric dense matrix with unit diagonal") {
    val posed = Similarity.withPos(
      bars.select(col("symbol"), col("date"), col("close").as("v")),
      Seq("symbol"), Seq(col("date")))
    val json = ApiJson.heatmap(Similarity.heatmap(posed, "symbol"))
    val p = JsonMethods.parse(json)
    val JArray(syms) = (p \ "symbols"): @unchecked
    assert(syms.map(_.asInstanceOf[JString].s) === List("A", "B", "C"))
    val m = (p \ "matrix").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JArray].arr.map(_.asInstanceOf[JDouble].num))
    assert(m.length === 3 && m.forall(_.length === 3))
    (0 until 3).foreach { i =>
      assert(m(i)(i) === 1.0)
      (0 until 3).foreach(j => assert(m(i)(j) === m(j)(i)))
    }
  }

  test("similarity payload: metrics block matches the endpoint field set") {
    val r = CompareAssets.SimilarityResult(
      euclidean = 1.2345678, pearson = 0.5, dtw = 3.0, cosine = 0.25, n_points = 4L)
    val json = ApiJson.similarity("A", "B", r)
    assert(json === """{"symbol_a": "A", "symbol_b": "B", "metrics": {"euclidean": 1.234568, "pearson": 0.5, "dtw": 3.0, "cosine": 0.25, "n_points": 4}}""")
    assert(JsonMethods.parse(json) \ "metrics" \ "n_points" === JInt(4))
  }
}
