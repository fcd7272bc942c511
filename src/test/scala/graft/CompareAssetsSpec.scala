package graft

import graft.analytics.{CompareAssets, Dtw, Similarity}
import graft.analytics.CompareAssets.SimilarityResult
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `CompareAssets.compare` on synthetic pairs with hand-derived results:
  * the collected and the aggregate placement, the join's alignment
  * rules, and agreement with the date join + window + `Similarity.metrics`
  * formulation it replaced. */
class CompareAssetsSpec extends SparkSpec {
  import spark.implicits._

  private val Placements = Seq(Long.MaxValue, 0L)

  private def both(bars: DataFrame, a: String, b: String): SimilarityResult = {
    val Seq(collected, aggregated) =
      Placements.map(l => CompareAssets.compare(bars, a, b, collectLimit = l))
    assert(collected == aggregated, s"$a/$b: collected $collected != aggregated $aggregated")
    collected
  }

  /** Random-walk closes over string dates, with gaps, nulls and
    * non-positive closes on each side, spread over several partitions. */
  private def synth(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val start = java.time.LocalDate.of(2020, 1, 1)
    val rows = for {
      sym <- Seq("A", "B", "C")
      i <- 0 until n
      if rnd.nextDouble() > 0.1
    } yield {
      val r = rnd.nextDouble()
      val close =
        if (r < 0.05) None
        else if (r < 0.08) Some(if (r < 0.065) 0.0 else -1.5)
        else Some(50.0 + 40.0 * math.sin(i / 9.0 + seed) + 10.0 * rnd.nextDouble())
      (start.plusDays(i).toString, sym, close)
    }
    new scala.util.Random(seed).shuffle(rows).toDF("date", "symbol", "close").repartition(3)
  }

  /** The date join + global window + `Similarity.metrics` formulation
    * `compare` used before its single scan, kept as the reference. */
  private def joinReference(bars: DataFrame, keyA: String, keyB: String): SimilarityResult = {
    val a = bars.filter(col("symbol") === keyA).select(col("date").as("d"), col("close").as("pa"))
    val b = bars.filter(col("symbol") === keyB).select(col("date").as("d"), col("close").as("pb"))
    val aligned = a.join(b, "d")
      .filter(col("pa").isNotNull && col("pb").isNotNull && col("pa") > 0 && col("pb") > 0)
    val w = Window.orderBy("d")
    val rets = aligned
      .withColumn("prev_a", lag(col("pa"), 1).over(w))
      .withColumn("prev_b", lag(col("pb"), 1).over(w))
      .filter(col("prev_a").isNotNull)
      .select(col("d"),
        when(col("pa") > 0 && col("prev_a") > 0, log(col("pa") / col("prev_a")))
          .otherwise(0.0).as("a"),
        when(col("pb") > 0 && col("prev_b") > 0, log(col("pb") / col("prev_b")))
          .otherwise(0.0).as("b"))
    val n = rets.count()
    if (n < 1) return CompareAssets.Zero
    val m = Similarity.metrics(rets.select("a", "b")).head()
    val arrs = rets.orderBy("d").select("a", "b").as[(Double, Double)].collect()
    SimilarityResult(m.getAs[Double]("euclidean"), m.getAs[Double]("pearson"),
      Dtw.distance(arrs.map(_._1), arrs.map(_._2)), m.getAs[Double]("cosine"), n)
  }

  test("collected and aggregated placements agree on all five fields") {
    (1 to 4).foreach { seed =>
      val bars = synth(seed, 120)
      Seq(("A", "B"), ("B", "C"), ("C", "C")).foreach { case (a, b) =>
        assert(both(bars, a, b).n_points > 50)
      }
    }
  }

  test("fewer than two aligned points, disjoint dates and invalid closes give Zero") {
    val one = Seq(("2024-01-01", "A", Some(1.0)), ("2024-01-01", "B", Some(2.0)),
      ("2024-01-02", "A", Some(1.5)))
    val disjoint = Seq(("2024-01-01", "A", Some(1.0)), ("2024-01-02", "A", Some(1.1)),
      ("2024-01-03", "B", Some(2.0)), ("2024-01-04", "B", Some(2.2)))
    // every common date has a null, zero or negative close on one side
    val invalid = Seq(("2024-01-01", "A", Some(1.0)), ("2024-01-01", "B", None),
      ("2024-01-02", "A", Some(0.0)), ("2024-01-02", "B", Some(2.0)),
      ("2024-01-03", "A", Some(1.2)), ("2024-01-03", "B", Some(-2.0)),
      ("2024-01-04", "A", Some(1.3)), ("2024-01-04", "B", Some(2.1)))
    Seq(one, disjoint, invalid).foreach { rows =>
      assert(both(rows.toDF("date", "symbol", "close"), "A", "B") == CompareAssets.Zero)
    }
    assert(both(disjoint.toDF("date", "symbol", "close"), "A", "Z") == CompareAssets.Zero)
  }

  test("integer and calendar dates align in native order, not string order") {
    // A = 2^d and B = 3^d on dates 1..12: every return is ln 2 or ln 3
    // when the dates sort numerically; a string sort (1, 10, 11, 12, 2,
    // ...) would break both series' constant returns.
    val rows = new scala.util.Random(3).shuffle((1 to 12).flatMap(d =>
      Seq((d, "A", math.pow(2, d)), (d, "B", math.pow(3, d)))))
    val step = math.abs(StrictMath.log(3.0) - StrictMath.log(2.0))
    val ints = rows.toDF("date", "symbol", "close").repartition(4)
    val days = rows.map { case (d, s, c) => (java.sql.Date.valueOf(
      java.time.LocalDate.of(2023, 12, 25).plusDays(d)), s, c) }
      .toDF("date", "symbol", "close")
    Seq(ints, days).foreach { bars =>
      val r = both(bars, "A", "B")
      assert(r.n_points == 11L)
      assert(r.pearson == 0.0, "constant returns have zero variance")
      assert(approx(r.euclidean, math.sqrt(11.0) * step, 1e-12), s"euclidean ${r.euclidean}")
      assert(approx(r.cosine, 1.0, 1e-12), s"cosine ${r.cosine}")
      assert(approx(r.dtw, 11 * step, 1e-12), s"dtw ${r.dtw}")
    }
  }

  test("a repeated date follows the join: ignored unless it aligns, then an error") {
    val base = Seq(("2024-01-01", "A", Some(10.0)), ("2024-01-01", "B", Some(20.0)),
      ("2024-01-02", "A", Some(11.0)), ("2024-01-02", "B", Some(19.0)),
      ("2024-01-03", "A", Some(12.5)), ("2024-01-03", "B", Some(21.0)))
    val expect = both(base.toDF("date", "symbol", "close"), "A", "B")
    assert(expect.n_points == 2L)
    // the join drops a repeat whose close is invalid, and a repeat at a
    // date the other series lacks
    val harmless = base ++ Seq(("2024-01-02", "A", None), ("2024-01-02", "B", Some(-1.0)),
      ("2024-01-09", "A", Some(13.0)), ("2024-01-09", "A", Some(14.0)))
    assert(both(harmless.toDF("date", "symbol", "close"), "A", "B") == expect)
    // two valid closes at an aligned date: the join would pair them in
    // no defined order
    val ambiguous = (base :+ (("2024-01-02", "A", Some(11.5)))).toDF("date", "symbol", "close")
    Placements.foreach { l =>
      val e = intercept[Exception](CompareAssets.compare(ambiguous, "A", "B", collectLimit = l))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("2024-01-02 repeats")),
        s"collectLimit $l: ${e.getMessage}")
    }
  }

  test("agrees with the date join + window + metrics formulation") {
    (1 to 4).foreach { seed =>
      val bars = synth(seed + 10, 150)
      Seq(("A", "B"), ("C", "A"), ("B", "B")).foreach { case (a, b) =>
        val got = both(bars, a, b)
        val ref = joinReference(bars, a, b)
        assert(got.n_points == ref.n_points && got.dtw == ref.dtw, s"$a/$b: $got vs $ref")
        assert(approx(got.euclidean, ref.euclidean, 1e-12), s"$a/$b: $got vs $ref")
        assert(approx(got.pearson, ref.pearson, 1e-12), s"$a/$b: $got vs $ref")
        assert(approx(got.cosine, ref.cosine, 1e-12), s"$a/$b: $got vs $ref")
      }
    }
  }
}
