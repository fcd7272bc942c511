package graft

import graft.analytics.Patterns
import org.apache.spark.sql.functions._

/** Reference fixture: algorithms/patterns.py:299-327 (FIXTURES.md §2.2),
  * window=5. Expected values generated by running the reference impl. */
class PatternsSpec extends SparkSpec {
  import spark.implicits._

  private val closes = Seq(100, 102, 103, 101, 104, 105, 106, 103, 107, 108, 109, 110, 108, 111, 112).map(_.toDouble)
  private val opens = Seq(99, 104, 102, 106, 100, 108, 105, 110, 102, 111, 108, 113, 111, 114, 110).map(_.toDouble)
  private val highs = Seq(101, 103, 104, 104, 105, 106, 107, 108, 108, 109, 110, 111, 112, 112, 113).map(_.toDouble)

  private val keys = Seq("symbol")
  private val order = Seq(col("i"))

  private def closesDf = closes.zipWithIndex.map { case (c, i) => (i, "X", c) }
    .toDF("i", "symbol", "close")

  test("X4 window-clipped streak histogram matches reference (w=5)") {
    val hist = Patterns.streakHistogram(closesDf, $"close", keys, order, 5)
      .select("streak_len", "freq").as[(Int, Long)].collect().toMap
    assert(hist == Map(1 -> 5L, 2 -> 7L, 3 -> 5L, 4 -> 2L))
  }

  test("W4 streak stats match reference (w=5)") {
    val row = Patterns.streakStats(closesDf, $"close", keys, order, 5)
      .select("max_streak", "total_ups", "total_windows").head()
    assert(row.getInt(0) == 4)
    assert(row.getLong(1) == 11L)
    assert(row.getLong(2) == 11L)
  }

  test("W5 gap windows + stats match reference (w=5)") {
    val bars = opens.zip(highs).zipWithIndex
      .map { case ((o, h), i) => (i, "X", o, h) }
      .toDF("i", "symbol", "open", "high")
    val perWindow = Patterns.gapWindows(bars, $"open", $"high", keys, order, 5)
      .orderBy("rn").select("gaps_in_window").as[Long].collect().toSeq
    assert(perWindow == Seq(2L, 3L, 2L, 3L, 2L, 3L, 2L, 3L, 2L, 3L, 2L))
    val stats = Patterns.gapStats(bars, $"open", $"high", keys, order, 5)
      .select("total_gaps", "max_gaps_in_window").head()
    assert(stats.getLong(0) == 7L)
    assert(stats.getLong(1) == 3L)
  }

  test("no-gap fixture yields zero totals (reference fixture opens)") {
    val refOpens = Seq(99, 101, 102, 103, 100, 104, 105, 107, 102, 106, 108, 109, 111, 107, 110).map(_.toDouble)
    val bars = refOpens.zip(highs).zipWithIndex
      .map { case ((o, h), i) => (i, "X", o, h) }
      .toDF("i", "symbol", "open", "high")
    val stats = Patterns.gapStats(bars, $"open", $"high", keys, order, 5)
      .select("total_gaps", "max_gaps_in_window").head()
    assert(stats.getLong(0) == 0L)
    assert(stats.getLong(1) == 0L)
  }

  test("W6 scan facade: zero-substitution flag manufactures up-days at holes") {
    val df = Seq((0, "X", Some(1.0)), (1, "X", None), (2, "X", Some(2.0)),
      (3, "X", Some(3.0)), (4, "X", Some(4.0)))
      .toDF("i", "symbol", "close")
    // faithful mode: null pairs are never up-days
    val faithful = Patterns.scan(df, $"close", $"close", $"close", keys, order, 3,
      zeroSubstituteNulls = false)
      .select("total_ups").as[Long].head()
    assert(faithful == 2) // 2>prev? (null pairs skipped) -> 3>2, 4>3
    // dashboard bit-parity mode: null -> 0.0 creates a fake up-day (2.0 > 0.0)
    val zeroed = Patterns.scan(df, $"close", $"close", $"close", keys, order, 3,
      zeroSubstituteNulls = true)
      .select("total_ups").as[Long].head()
    assert(zeroed == 3)
  }

  test("short series (n<w) uses the single clipped window") {
    val df = Seq((0, "X", 1.0), (1, "X", 2.0), (2, "X", 3.0)).toDF("i", "symbol", "close")
    val hist = Patterns.streakHistogram(df, $"close", keys, order, 5)
      .select("streak_len", "freq").as[(Int, Long)].collect().toMap
    assert(hist == Map(2 -> 1L)) // ups = [0,1,1] -> one run of 2, one window
  }

  test("streak histogram equals runLengths over every clipped window of random series") {
    // random series exercise clipping at both run ends, short series
    // (n < w: one window, the whole series) and multiple keys
    val rnd = new scala.util.Random(13)
    val data = (0 until 8).flatMap { k =>
      val len = 3 + rnd.nextInt(120)
      (0 until len).map(i => (i, s"S$k", rnd.nextInt(3).toDouble))
    }
    val df = data.toDF("i", "symbol", "close")
    val ups = data.groupBy(_._2).map { case (k, rows) =>
      val closes = rows.sortBy(_._1).map(_._3)
      k -> (0 +: closes.zip(closes.drop(1)).map { case (a, b) => if (b > a) 1 else 0 })
    }
    for (w <- Seq(2, 5, 20, 500)) {
      val expected = ups.toSeq.flatMap { case (k, u) =>
        (0 until math.max(1, u.length - w + 1))
          .flatMap(p => Patterns.runLengths(u.slice(p, p + w))).map(k -> _)
      }.groupBy(identity).map { case ((k, len), hits) => (k, len, hits.size.toLong) }.toSet
      val hist = Patterns.streakHistogram(df, $"close", keys, order, w)
        .select("symbol", "streak_len", "freq")
        .as[(String, Int, Long)].collect().toSet
      assert(hist == expected, s"w=$w")
    }
  }
}
