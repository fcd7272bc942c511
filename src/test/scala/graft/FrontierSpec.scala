package graft

import graft.operators.FrontierQueries
import org.apache.spark.sql.functions._

/** Semantic fixtures for the frontier / distribution-audit operators
  * (k9 skyline, e11 Benford, f16 chi², w16 KS, a24 Gini, g6 SSSP) —
  * known tiny inputs with hand-computed answers, independent of the
  * DuckDB oracle rows. */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("skyline keeps exactly the non-dominated (min price, max size) points") {
    // per-size best prices: size 1 -> 5.0, size 2 -> 3.0, size 3 -> 4.0
    // size 1 dominated by size 2 (bigger & cheaper); sizes 2,3 survive
    val parts = Seq(
      (1, 5.0), (1, 9.0), (2, 3.0), (2, 8.0), (3, 4.0), (3, 7.0))
      .toDF("p_size", "p_retailprice")
    val tmp = java.nio.file.Files.createTempDirectory("skyl")
    try {
      parts.write.mode("overwrite").parquet(s"$tmp/part.parquet")
      val got = FrontierQueries.k9Skyline(spark, tmp.toString)
        .as[(Int, Double)].collect().toList
      assert(got == List((2, 3.0), (3, 4.0)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("benford first digit comes from exact integer cents, not float formatting") {
    // 999.995 floors to 99999 cents -> digit 9 (never rounds up to 1000.00),
    // 0.004 floors to 0 cents -> excluded, 123456.78 -> digit 1
    val got = spark.sql(
      """SELECT substring(CAST(CAST(FLOOR(v * 100.0) AS BIGINT) AS STRING), 1, 1) AS d
        |FROM VALUES (999.995), (0.004), (123456.78) AS t(v)""".stripMargin)
      .as[String].collect().toList
    assert(got == List("9", "0", "1"))
  }

  test("benford chi2 over the real orders table is consistent with its own terms") {
    val rows = FrontierQueries.e11Benford(spark, sf).collect()
    assert(rows.length == 9)
    val terms = rows.map(r => BigDecimal(r.getAs[Double]("term")).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    val chi2 = BigDecimal(rows.head.getAs[Double]("chi2")).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert((terms - chi2).abs <= BigDecimal("0.000002"))
    assert(rows.map(_.getAs[Long]("n_obs")).sum > 0)
  }

  test("KS distance is exact on a hand-computed pair of samples") {
    // A = {1,2,3}, B = {3,4}: F_A jumps 1/3 at 1,2,3; F_B jumps 1/2 at 3,4
    // D = max|F_A - F_B| = 2/3 at x=2
    val ev = Seq(
      (1L, "click", 1.0), (2L, "click", 2.0), (3L, "click", 3.0),
      (4L, "purchase", 3.0), (5L, "purchase", 4.0))
      .toDF("event_id", "event_type", "value")
    val tmp = java.nio.file.Files.createTempDirectory("ks")
    try {
      ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = FrontierQueries.w16KsTest(spark, tmp.toString).collect().head
      assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 2)
      assert(approx(r.getAs[Double]("d_stat"), 0.666667, 1e-6))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("gini is 0 for equal spend and (n-1)/n-scaled for one-whale spend") {
    def giniOf(rows: Seq[(Long, Double)]): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("gini")
      try {
        rows.toDF("o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
        FrontierQueries.a24Gini(spark, tmp.toString)
          .collect().head.getAs[Double]("gini")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    assert(approx(giniOf(Seq((1L, 10.0), (2L, 10.0), (3L, 10.0), (4L, 10.0))), 0.0, 1e-6))
    // one customer holds all spend among n=4 (others epsilon-small but
    // nonzero to keep S > 0): G -> (n-1)/n = 0.75 as eps -> 0; with
    // eps = 0.01 of 1000 the exact value is 0.749978...
    val g = giniOf(Seq((1L, 1000.0), (2L, 0.01), (3L, 0.01), (4L, 0.01)))
    assert(g > 0.7499 && g < 0.75)
  }

  test("chi2 is 0 when the contingency table is exactly independent") {
    // 2 types x 2 days, counts 10/20 replicated across days -> independence
    val base = java.sql.Timestamp.valueOf("2024-01-01 12:00:00") // a Monday
    def at(dayOff: Int) = new java.sql.Timestamp(base.getTime + dayOff * 86400000L)
    val rows = (1 to 10).map(i => (i.toLong, "a", at(0))) ++
      (1 to 20).map(i => (100 + i.toLong, "b", at(0))) ++
      (1 to 10).map(i => (200 + i.toLong, "a", at(1))) ++
      (1 to 20).map(i => (300 + i.toLong, "b", at(1)))
    val tmp = java.nio.file.Files.createTempDirectory("chi2")
    try {
      rows.toDF("event_id", "event_type", "tsm")
        .withColumn("ts", expr("unix_micros(tsm) * 1000")).drop("tsm")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = FrontierQueries.f16Chi2Assoc(spark, tmp.toString).collect().head
      assert(approx(r.getAs[Double]("chi2"), 0.0, 1e-6))
      assert(r.getAs[Long]("dof") == 1)
      assert(r.getAs[Long]("n") == 60)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("inventory balance clamps to [0, cap] and follows the add-then-clamp chain") {
    // user 1: purchase +600, click -500/4=-125 -> 475, purchase +600 -> 1000 (cap),
    // click -2000/4 -> 500, click -3000/4 -> 0 (floor)
    val rows = Seq(
      (1L, 1L, "purchase", 600.0), (2L, 2L, "click", 500.0),
      (3L, 3L, "purchase", 600.0), (4L, 4L, "click", 2000.0),
      (5L, 5L, "click", 3000.0))
      .map { case (id, t, ty, v) => (id, t * 1000000000L, 1L, ty, v) }
    val tmp = java.nio.file.Files.createTempDirectory("inv")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = graft.operators.LedgerQueries.w17Inventory(spark, tmp.toString)
        .select("balance").as[Double].collect().toList
      assert(got == List(600.0, 475.0, 1000.0, 500.0, 0.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("MWU matches the hand-computed rank sum with ties") {
    // A(click) = {1, 2, 2}, B(purchase) = {2, 3}
    // ranks: 1->1, 2s share (2+3+4)/3=3, 3->5
    // R_A = 1 + 3 + 3 = 7, U = 7 - 3*4/2 = 1, rho = 1/6
    val ev = Seq(
      (1L, "click", 1.0), (2L, "click", 2.0), (3L, "click", 2.0),
      (4L, "purchase", 2.0), (5L, "purchase", 3.0))
      .toDF("event_id", "event_type", "value")
    val tmp = java.nio.file.Files.createTempDirectory("mwu")
    try {
      ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = graft.operators.LedgerQueries.w18Mwu(spark, tmp.toString).collect().head
      assert(r.getAs[Double]("u_stat") == 1.0)
      assert(approx(r.getAs[Double]("rho"), 0.166667, 1e-6))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("TWAP weights by holding time, not by tick count") {
    // value 10 held 9s, value 100 held 1s (last tick unweighted):
    // twap = (10*9 + 100*1) / 10 = 19
    val ev = Seq(
      (1L, 0L, 1L, 10.0), (2L, 9000000000L, 1L, 100.0), (3L, 10000000000L, 1L, 7.0))
      .toDF("event_id", "ts", "user_id", "value")
    val tmp = java.nio.file.Files.createTempDirectory("twap")
    try {
      ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val r = graft.operators.LedgerQueries.i18Twap(spark, tmp.toString).collect().head
      assert(r.getAs[Long]("n_holds") == 2)
      assert(approx(r.getAs[Double]("twap"), 19.0, 1e-6))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("holt-winters locks onto an exactly periodic series: zero-error forecasts") {
    // y = 100 + s[day mod 7] with Σs = 0: week-1 mean is exactly 100,
    // so L0=100, T0=0, S=s exactly — every later update sees zero error
    // and the one-step forecast reproduces y bit-for-bit
    val season = Array(3.0, -2.0, 1.0, 0.0, -1.0, 2.0, -3.0)
    // realistic epoch-ns base (2023-12-28, a multiple of 7 days since the
    // epoch so day-of-week phase is preserved) — Graft.table's ts
    // magnitude guard treats day-scale relative axes as ambiguous
    val epoch0 = 19719L * 86400L * 1000000000L
    val rows = (0 until 28).map { d =>
      (d.toLong + 1, epoch0 + d.toLong * 86400L * 1000000000L, 1L, 100.0 + season(d % 7))
    }
    val tmp = java.nio.file.Files.createTempDirectory("hw")
    try {
      rows.toDF("event_id", "ts", "user_id", "value")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = graft.operators.IndicatorQueries.i19HoltWinters(spark, tmp.toString)
        .collect()
      assert(got.length == 21) // days 8..28
      got.zipWithIndex.foreach { case (r, i) =>
        val expectY = 100.0 + season((i + 7) % 7)
        assert(approx(r.getAs[Double]("fitted"), expectY, 1e-6),
          s"day ${i + 8}: fitted ${r.getAs[Double]("fitted")} != $expectY")
        assert(approx(r.getAs[Double]("level"), 100.0, 1e-6))
        assert(approx(r.getAs[Double]("trend"), 0.0, 1e-6))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("quantile normalization maps within-type ranks onto the global distribution") {
    // A = {1, 2} (n=2), B = {10, 20, 30, 40} (n=4), N = 6
    // A: tr = ceil(r*6/2) -> ranks 3, 6 -> 10, 40
    // B: tr = ceil(r*6/4) -> ranks 2, 3, 5, 6 -> 2, 10, 30, 40
    val ev = Seq(
      (1L, "A", 1.0), (2L, "A", 2.0),
      (3L, "B", 10.0), (4L, "B", 20.0), (5L, "B", 30.0), (6L, "B", 40.0))
      .toDF("event_id", "event_type", "value")
    val tmp = java.nio.file.Files.createTempDirectory("qn")
    try {
      ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = graft.operators.TrainPrepQueries.t37QuantileNorm(spark, tmp.toString)
        .select("event_id", "norm_value").as[(Long, Double)].collect().toMap
      assert(got == Map(1L -> 10.0, 2L -> 40.0, 3L -> 2.0, 4L -> 10.0,
        5L -> 30.0, 6L -> 40.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("kaplan-meier multiplies risk-set factors at churn times only") {
    // lifetimes (first event -> last purchase): u1 t=5 churn, u2 t=10 churn,
    // u3 t=28 censored (within final week), u4 t=5 churn; u5 never purchases
    // (excluded) but pins end_day = 30.
    // S(5) = 1 - 2/4 = 0.5; S(10) = 0.5 * (1 - 1/2) = 0.25
    // epoch-ns base for the same reason as the holt-winters fixture:
    // lifetimes are ts DIFFS, so the base cancels out of every assert
    def d(n: Int) = (19719L + n.toLong) * 86400L * 1000000000L
    val rows = Seq(
      (1L, 1L, "view", d(0)), (2L, 1L, "purchase", d(5)),
      (3L, 2L, "view", d(0)), (4L, 2L, "purchase", d(10)),
      (5L, 3L, "view", d(0)), (6L, 3L, "purchase", d(28)),
      (7L, 4L, "view", d(0)), (8L, 4L, "purchase", d(5)),
      (9L, 5L, "view", d(30)))
    val tmp = java.nio.file.Files.createTempDirectory("km")
    try {
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val got = graft.operators.CohortQueries.f19KaplanMeier(spark, tmp.toString)
        .select("t_days", "d_churned", "n_risk", "survival")
        .as[(Long, Long, Long, Double)].collect().toList
      assert(got == List((5L, 2L, 4L, 0.5), (10L, 1L, 2L, 0.25)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("backtest position machine only transitions per the hysteresis rules") {
    val rows = graft.operators.MarketQueries.z2PairsBacktest(spark, sf)
      .select("z", "position").as[(Double, Long)].collect()
    assert(rows.nonEmpty)
    var prev = 0L
    rows.foreach { case (z, p) =>
      assert(p == -1L || p == 0L || p == 1L)
      if (prev == 0L) {
        val want = if (z > 2) -1L else if (z < -2) 1L else 0L
        assert(p == want, s"flat-state entry rule violated at z=$z")
      } else if (math.abs(z) < 0.5) assert(p == 0L, s"exit rule violated at z=$z")
      else assert(p == prev, s"hold rule violated at z=$z")
      prev = p
    }
  }

  test("k10 plans WindowGroupLimit Partial below the key exchange and Final above it") {
    val p = FrontierQueries.k10TopkNative(spark, sf).queryExecution.executedPlan.toString
    val lines = p.split("\n")
    def at(re: String): Int = lines.indexWhere(l => re.r.findFirstIn(l).isDefined)
    val fin = at("WindowGroupLimit .*Final")
    val exchange = at("Exchange hashpartitioning\\(user_id")
    val partial = at("WindowGroupLimit .*Partial")
    assert(fin >= 0 && exchange > fin && partial > exchange,
      s"expected Final above and Partial below the key exchange:\n$p")
  }

  test("g6 SSSP relaxes to true weighted distances within the round budget") {
    val got = graft.operators.OpsQueries.g6Sssp(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.exists(_ == 0L), "seed at distance 0")
    assert(got.values.forall(_ >= 0L))
    // triangle inequality over the already-relaxed frame: no single edge
    // re-relaxation can improve any distance (4 rounds reached fixpoint
    // on this dense 25-node graph)
    val dists = got
    val edges = {
      // rebuild the undirected edge list the operator used
      graft.Graft.table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
        .join(graft.Graft.table(spark, sf, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(graft.Graft.table(spark, sf, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(graft.Graft.table(spark, sf, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(graft.Graft.table(spark, sf, "nation")
            .select(col("n_nationkey").as("sk"), col("n_name").as("src")),
          col("s_nationkey") === col("sk"))
        .join(graft.Graft.table(spark, sf, "nation")
            .select(col("n_nationkey").as("ck"), col("n_name").as("dst")),
          col("c_nationkey") === col("ck"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }
    val undirected = (edges ++ edges.map(e => (e._2, e._1, e._3)))
      .filter(e => e._1 != e._2)
      .groupBy(e => (e._1, e._2)).map { case ((u, v), es) => (u, v, es.map(_._3).sum) }
    for ((u, v, w) <- undirected if dists.contains(v)) {
      assert(dists.get(u).forall(_ <= dists(v) + w),
        s"edge ($u,$v,$w) still relaxable: ${dists.get(u)} > ${dists(v)} + $w")
    }
  }
}
