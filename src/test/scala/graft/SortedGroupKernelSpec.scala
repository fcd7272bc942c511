package graft

import graft.operators.{IndicatorQueries, MarketQueries, PatternQueries, StatQueries}
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** w14 (CUSUM), i17 (PSAR) and i19 (Holt-Winters) fold groups that Spark
  * has already sorted by day, streaming the iterator with O(state)
  * memory. This spec keeps the earlier bodies, which buffered the whole
  * series and sorted it in the task, as references: they run on the
  * driver over the same daily bars, each series shuffled first, through
  * the query's own output projection. The query outputs must equal the
  * references bit for bit.
  *
  * The events are random and written in shuffled row order over several
  * files. Every seed has series of 1, 2, 7 and 8 days (the i19 warm-up is
  * 7 bars, i17 needs 2, w14 needs 2) and zero closes, where w14 resets. */
class SortedGroupKernelSpec extends SparkSpec {
  import spark.implicits._

  private val dayNs = 86400L * 1000000000L
  private val t0Ns = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z

  /** (event_id, user_id, ts ns, value), shuffled; users 1-4 have 1, 2, 7
    * and 8 days, the rest 1-40 days, each day 1-3 ticks. */
  private def randomEvents(seed: Long): Seq[(Long, Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    var id = 0L
    val rows = (1L to 40L).flatMap { uid =>
      val nDays = if (uid <= 4) Seq(1, 2, 7, 8)(uid.toInt - 1) else 1 + rnd.nextInt(40)
      (0 until nDays).flatMap { d =>
        (0 until 1 + rnd.nextInt(3)).map { tick =>
          val v = if (rnd.nextDouble() < 0.08) 0.0
            else BigDecimal(1 + rnd.nextDouble() * 199).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
          id += 1
          (id, uid, t0Ns + d * dayNs + tick * 1000000000L, v)
        }
      }
    }
    rnd.shuffle(rows)
  }

  private def withEvents(seed: Long)(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("sortedkernel")
    try {
      randomEvents(seed).toDF("event_id", "user_id", "ts", "value")
        .repartition(3).write.parquet(s"$dir/events.parquet")
      f(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Per-user series of `cols` from the daily bars, each shuffled. */
  private def shuffledSeries(dir: String, seed: Long, cols: String*): Seq[(Long, Seq[Row])] = {
    val rnd = new scala.util.Random(seed)
    PatternQueries.dailyBars(spark, dir)
      .select(col("user_id").cast("long") +: col("day").cast("string") +:
        cols.map(c => col(c).cast("double")): _*)
      .collect().toSeq.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (uid, rows) => (uid, rnd.shuffle(rows)) }
  }

  /** Rows with every double as its raw bits, so -0.0 and NaN compare exactly. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty)
    assert(g.length == w.length, s"${g.length} rows, reference has ${w.length}")
    g.zip(w).zipWithIndex.foreach { case ((a, b), i) => assert(a == b, s"row $i") }
  }

  // ---- the earlier buffer-and-sort bodies ----

  private def cusumRef(uid: Long, it: Iterator[(Long, String, Double)]) = {
    val k = 5e-4; val h = 0.05
    val pts = it.toArray.sortBy(_._2)
    var sp = 0.0; var sn = 0.0
    (1 until pts.length).iterator.map { i =>
      if (pts(i - 1)._3 == 0) { sp = 0.0; sn = 0.0 }
      else {
        val ret = pts(i)._3 / pts(i - 1)._3 - 1.0
        val xp = sp + ret - k; sp = if (xp > 0) xp else 0.0
        val xn = sn - ret - k; sn = if (xn > 0) xn else 0.0
      }
      (uid, pts(i)._2, sp, sn, sp > h || sn > h)
    }
  }

  private def psarRef(uid: Long, it: Iterator[(Long, String, Double, Double, Double)]) = {
    val b = it.toArray.sortBy(_._2)
    if (b.length < 2) Iterator.empty
    else {
      var up = b(1)._5 >= b(0)._5
      var sar = if (up) b(0)._4 else b(0)._3
      var ep = if (up) b(1)._3 else b(1)._4
      var af = 0.02
      val out = Array.newBuilder[(Long, String, Double, Long)]
      out += ((uid, b(1)._2, sar, if (up) 1L else -1L))
      var i = 2
      while (i < b.length) {
        val h = b(i)._3; val l = b(i)._4
        val hp = b(i - 1)._3; val lp = b(i - 1)._4
        var s1 = sar + af * (ep - sar)
        if (up) {
          if (s1 > lp) s1 = lp
          if (l < s1) { up = false; sar = ep; ep = l; af = 0.02 }
          else { sar = s1; if (h > ep) { ep = h; af = if (af + 0.02 < 0.2) af + 0.02 else 0.2 } }
        } else {
          if (s1 < hp) s1 = hp
          if (h > s1) { up = true; sar = ep; ep = h; af = 0.02 }
          else { sar = s1; if (l < ep) { ep = l; af = if (af + 0.02 < 0.2) af + 0.02 else 0.2 } }
        }
        out += ((uid, b(i)._2, sar, if (up) 1L else -1L))
        i += 1
      }
      out.result().iterator
    }
  }

  private def holtWintersRef(uid: Long, it: Iterator[(Long, String, Double)]) = {
    val al = 3.0 / 10; val be = 1.0 / 10; val ga = 2.0 / 10; val m = 7
    val pts = it.toArray.sortBy(_._2)
    if (pts.length <= m) Iterator.empty
    else {
      val dsum = pts.take(m)
        .map(p => BigDecimal(p._3).setScale(12, BigDecimal.RoundingMode.HALF_UP))
        .sum
      var l = dsum.toDouble / m
      var t = 0.0
      val sea = Array.tabulate(m)(i => pts(i)._3 - l)
      var idx = 0
      (m until pts.length).iterator.map { i =>
        val y = pts(i)._3
        val sOld = sea(idx)
        val fitted = l + t + sOld
        val lNew = al * (y - sOld) + (1 - al) * (l + t)
        val tNew = be * (lNew - l) + (1 - be) * t
        val sNew = ga * (y - lNew) + (1 - ga) * sOld
        l = lNew; t = tNew; sea(idx) = sNew; idx = (idx + 1) % m
        (uid, pts(i)._2, l, t, sNew, fitted)
      }
    }
  }

  private val seeds = Seq(11L, 12L, 13L)

  test("random series carry every edge case the kernels branch on") {
    seeds.foreach { seed =>
      withEvents(seed) { dir =>
        val bars = PatternQueries.dailyBars(spark, dir)
        val days = bars.groupBy("user_id").count().as[(Long, Long)].collect().toMap
        assert(Seq(1L, 2L, 7L, 8L).forall(n => days.values.exists(_ == n)))
        assert(bars.filter(col("close") === 0.0).count() > 0, s"seed $seed: no zero close")
      }
    }
  }

  test("w14 CUSUM: the streamed fold equals the buffer-and-sort reference bit for bit") {
    seeds.foreach { seed =>
      withEvents(seed) { dir =>
        val ref = shuffledSeries(dir, seed, "close").flatMap { case (uid, rows) =>
          cusumRef(uid, rows.iterator.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))))
        }
        assertSame(StatQueries.w14Cusum(spark, dir),
          ref.toDF("user_id", "day", "sp", "sn", "alarm")
            .select(col("user_id"), to_date(col("day")).as("day"),
              q6(col("sp")).as("cusum_pos"), q6(col("sn")).as("cusum_neg"), col("alarm"))
            .orderBy("user_id", "day"))
      }
    }
  }

  test("i17 PSAR: the streamed fold equals the buffer-and-sort reference bit for bit") {
    seeds.foreach { seed =>
      withEvents(seed) { dir =>
        val ref = shuffledSeries(dir, seed, "high", "low", "close").flatMap { case (uid, rows) =>
          psarRef(uid, rows.iterator.map(r =>
            (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        }
        assertSame(MarketQueries.i17Psar(spark, dir),
          ref.toDF("user_id", "day", "sar_raw", "trend")
            .select(col("user_id"), to_date(col("day")).as("day"),
              q6(col("sar_raw")).as("psar"), col("trend"))
            .orderBy("user_id", "day"))
      }
    }
  }

  test("i19 Holt-Winters: the streamed fold equals the buffer-and-sort reference bit for bit") {
    seeds.foreach { seed =>
      withEvents(seed) { dir =>
        val ref = shuffledSeries(dir, seed, "close").flatMap { case (uid, rows) =>
          holtWintersRef(uid, rows.iterator.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))))
        }
        assertSame(IndicatorQueries.i19HoltWinters(spark, dir),
          ref.toDF("user_id", "day", "level", "trend", "seasonal", "fitted")
            .select(col("user_id"), to_date(col("day")).as("day"),
              q6(col("level")).as("level"), q6(col("trend")).as("trend"),
              q6(col("seasonal")).as("seasonal"), q6(col("fitted")).as("fitted"))
            .orderBy("user_id", "day"))
      }
    }
  }
}
