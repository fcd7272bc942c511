package graft

import graft.analytics.{Dtw, Similarity}
import graft.clean.Cleaning
import graft.ta.Technical
import org.apache.spark.sql.functions._

/** Property-style invariants over seeded random inputs (FIXTURES.md §5:
  * scalacheck-style checks — deterministic seeded loops here). */
class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  private def randSeries(seed: Int, n: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(rnd.nextDouble() * 200 - 100)
  }

  test("pearson and cosine stay in [-1, 1]; euclidean and n non-negative") {
    (1 to 10).foreach { seed =>
      val a = randSeries(seed, 80)
      val b = randSeries(seed + 100, 80)
      val m = Similarity.metrics(a.zip(b).toDF("a", "b"))
        .select("pearson", "cosine", "euclidean").head()
      assert(m.getDouble(0) >= -1.0 - 1e-12 && m.getDouble(0) <= 1.0 + 1e-12)
      assert(m.getDouble(1) >= -1.0 - 1e-12 && m.getDouble(1) <= 1.0 + 1e-12)
      assert(m.getDouble(2) >= 0.0)
    }
  }

  test("DTW: identity zero, symmetry, non-negativity") {
    (1 to 10).foreach { seed =>
      val a = randSeries(seed, 60).toArray
      val b = randSeries(seed + 50, 45).toArray
      assert(Dtw.distance(a, a) == 0.0)
      val ab = Dtw.distance(a, b)
      val ba = Dtw.distance(b, a)
      assert(ab >= 0.0)
      assert(approx(ab, ba, 1e-9), s"seed $seed: dtw not symmetric ($ab vs $ba)")
    }
  }

  test("pair aggregator equals the driver kernel on any partitioning") {
    import graft.analytics.{CompareAssets, PairSimilarityAggregator}
    def pairRows(seed: Int, n: Int): Seq[(Boolean, Boolean, Long, Double)] = {
      val a = randSeries(seed, n).map(x => math.abs(x) + 1.0)
      val b = randSeries(seed + 500, n).map(x => math.abs(x) + 1.0)
      // date gaps on each side: only the common dates align
      (0 until n).flatMap { i =>
        (if (i % 7 != 3) Seq((true, false, i.toLong, a(i))) else Nil) ++
          (if (i % 5 != 1) Seq((false, true, i.toLong, b(i))) else Nil)
      }
    }
    (1 to 5).foreach { seed =>
      val rows = pairRows(seed, 50 + seed * 37)
      val expect = CompareAssets.kernel(rows)
      assert(expect.n_points > 1)
      // rows arrive out of order and across 7 partitions: merge must
      // re-assemble both series exactly
      val ds = new scala.util.Random(seed).shuffle(rows).toDS().repartition(7)
      val got = ds.select(PairSimilarityAggregator.column[Long]).head()
      assert(got == expect, s"seed $seed: aggregator $got != kernel $expect")
    }
    // grouped form: two pairs aggregate independently under one shuffle
    val p1 = pairRows(11, 90)
    val p2 = pairRows(13, 130)
    val got = new scala.util.Random(7).shuffle(p1.map(("p1", _)) ++ p2.map(("p2", _)))
      .toDS().repartition(5)
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(PairSimilarityAggregator.column[Long])
      .collect().toMap
    assert(got("p1") == CompareAssets.kernel(p1))
    assert(got("p2") == CompareAssets.kernel(p2))
  }

  test("forward fill is idempotent and only fills forward") {
    val rnd = new scala.util.Random(9)
    val vals = (0 until 200).map(i =>
      (i, "X", if (rnd.nextDouble() < 0.3) None else Some(rnd.nextDouble())))
    val df = vals.toDF("i", "symbol", "v")
    val once = Cleaning.forwardFill(df, "v", Seq("symbol"), Seq(col("i")))
    val twice = Cleaning.forwardFill(once, "v", Seq("symbol"), Seq(col("i")))
    assert(once.orderBy("i").as[(Int, String, Option[Double])].collect().toSeq ==
      twice.orderBy("i").as[(Int, String, Option[Double])].collect().toSeq)
    // leading nulls survive; after the first non-null, no nulls remain
    val seq = once.orderBy("i").select("v").as[Option[Double]].collect().toSeq
    val firstDefined = seq.indexWhere(_.isDefined)
    assert(seq.drop(firstDefined).forall(_.isDefined))
  }

  test("linear interpolation stays within its bracketing neighbors and keeps edges null") {
    val out = operators.CleanQueries.c10Interpolate(spark, "/root/testdata/sf0.001")
      .orderBy("user_id", "event_id")
      .select("user_id", "event_id", "v").as[(Long, Long, Option[Double])].collect()
    // group by user, walk each series: any filled value of a null slot must
    // lie between the previous and next observed values
    out.groupBy(_._1).values.foreach { series =>
      val ordered = series.sortBy(_._2)
      ordered.zipWithIndex.foreach {
        // event_id % 10 == 0 rows are the injected nulls (CleanQueries),
        // i.e. the interpolated slots
        case ((_, eid, Some(v)), i) if eid % 10 == 0 =>
          val before = ordered.take(i).filter(_._2 % 10 != 0).flatMap(_._3).lastOption
          val after = ordered.drop(i + 1).filter(_._2 % 10 != 0).flatMap(_._3).headOption
          (before, after) match {
            case (Some(b), Some(a)) =>
              assert(v >= math.min(b, a) - 1e-6 && v <= math.max(b, a) + 1e-6,
                s"interpolated $v outside [$b, $a]")
            case _ => ()
          }
        case _ => ()
      }
    }
  }

  test("triangle count is bounded by edges choose 3 and non-negative") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val r = graft.dedup.Dedup.triangleCount(edges)
      .as[(Long, Long)].head()
    assert(r == ((4L, 1L)), s"expected 4 edges / 1 triangle, got $r")
  }

  test("e2 histogram quantiles land within one bin width of the exact percentiles") {
    val dir = "/root/testdata/sf0.001"
    val est = graft.operators.OpsQueries.e2HistQuantile(spark, dir)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val v = graft.Graft.table(spark, dir, "events")
    val row = v.agg(min("value"), max("value")).head()
    val binw = (row.getDouble(1) - row.getDouble(0)) / 1000.0
    val exact = v.stat.approxQuantile("value", Array(0.5, 0.9, 0.99), 0.0)
    Seq(0.5, 0.9, 0.99).zip(exact).foreach { case (p, ex) =>
      val e = est(p)
      assert(math.abs(e - ex) <= binw + 1e-9,
        s"p=$p estimate $e vs exact $ex exceeds one bin ($binw)")
    }
  }

  test("g2 pagerank: ranks positive, mass conserved (no dangling nations)") {
    val rs = graft.operators.OpsQueries.g2Pagerank(spark, "/root/testdata/sf0.001")
      .select("r").as[Double].collect()
    assert(rs.nonEmpty && rs.forall(_ > 0.0))
    // every nation has out-edges, so total mass stays 1 up to the 1e-12
    // contribution-grid truncation (|E| * 5e-13 worst case)
    val sum = rs.sum
    assert(math.abs(sum - 1.0) < 1e-6, s"rank mass $sum drifted from 1")
  }

  test("SMA stays within the min/max of its window") {
    val prices = randSeries(3, 100).map(math.abs)
    val df = prices.zipWithIndex.map { case (p, i) => (i, "X", p) }
      .toDF("i", "symbol", "close")
    val got = df.withColumn("s", Technical.sma($"close", 7, Seq("symbol"), Seq(col("i"))))
      .orderBy("i").select("s").as[Option[Double]].collect()
    got.zipWithIndex.drop(6).foreach { case (Some(s), i) =>
      val window = prices.slice(i - 6, i + 1)
      assert(s >= window.min - 1e-9 && s <= window.max + 1e-9)
    case _ => fail("missing SMA value after warm-up")
    }
  }
}
