package graft.ta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recurrence-based and banded technical indicators (EMA family, RSI,
  * Bollinger, drawdown) extending the reference's window suite
  * (technical.py, volatility.py) with the standard indicators its data
  * model implies but does not ship.
  *
  * Two execution shapes, both one-shuffle-by-series:
  *
  *  - **Frame windows** (Bollinger, Cutler RSI, rolling autocorr,
  *    drawdown, cumulative return): plain `WindowExec` sliding frames —
  *    O(n) per series, whole-stage codegen, identical scale posture to
  *    [[Technical]].
  *  - **Recurrences** (EMA, MACD, Holt): e_t depends on e_{t−1}, which
  *    no SQL window frame expresses. These run as a typed
  *    `flatMapSortedGroups` kernel: one shuffle keyed by series, whose
  *    Sort also orders each series by (ts, event_id), then a scan of the
  *    series. [[ema]], [[holt]] and [[macd]] hold ONE series per task as
  *    an array, because they call the pure kernels the specs test
  *    against (the reference's series are ~1.8k points; even tick-level
  *    years fit); [[emaScan]] is the unbounded-series path. The catalog's
  *    other recurrence kernels (w14, w15, w17, z2, f19, i17, i19, i20)
  *    fold the sorted iterator with O(state) memory. Series parallelize
  *    across executors — the same layout Flink/kdb use for EWMA at scale.
  */
object Indicators {

  /** Pure EMA kernel: e_0 = x_0; e_t = α·x_t + (1−α)·e_{t−1}.
    * α = 2/(n+1) (the standard span parameterization). */
  def emaKernel(xs: Array[Double], alpha: Double): Array[Double] = {
    val out = new Array[Double](xs.length)
    var i = 0
    var e = 0.0
    while (i < xs.length) {
      e = if (i == 0) xs(0) else alpha * xs(i) + (1.0 - alpha) * e
      out(i) = e
      i += 1
    }
    out
  }

  /** Pure MACD kernel → (macd, signal, hist) per point.
    * macd = EMA_fast − EMA_slow; signal = EMA of macd (seeded at
    * macd_0 = 0 since both EMAs start at x_0); hist = macd − signal. */
  def macdKernel(xs: Array[Double], aFast: Double, aSlow: Double,
                 aSig: Double): Array[(Double, Double, Double)] = {
    val out = new Array[(Double, Double, Double)](xs.length)
    var i = 0
    var ef = 0.0; var es = 0.0; var sig = 0.0
    while (i < xs.length) {
      if (i == 0) { ef = xs(0); es = xs(0); sig = 0.0 }
      else {
        ef = aFast * xs(i) + (1.0 - aFast) * ef
        es = aSlow * xs(i) + (1.0 - aSlow) * es
        sig = aSig * (ef - es) + (1.0 - aSig) * sig
      }
      out(i) = (ef - es, sig, (ef - es) - sig)
      i += 1
    }
    out
  }

  /** EMA(n) over the events series shape (event_id, user_id, ts, value) →
    * (event_id, user_id, ema). One shuffle by user_id, per-series kernel. */
  def ema(df: DataFrame, n: Int): DataFrame =
    emaAlpha(df, 2.0 / (n + 1).toDouble)

  /** [[ema]] with a directly specified smoothing factor — e.g. RiskMetrics
    * EWMA variance uses α = 1−λ = 0.06, which no integer span expresses. */
  def emaAlpha(df: DataFrame, alpha: Double): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts"), col("event_id")) { (uid, it) =>
        val pts = it.toArray
        val es = emaKernel(pts.map(_._4), alpha)
        pts.iterator.zipWithIndex.map { case (p, i) => (p._2, uid, es(i)) }
      }
      .toDF("event_id", "user_id", "ema")
  }

  /** EMA over ONE series too large for a single task: the recurrence
    * e_t = α·x_t + (1−α)·e_{t−1} is a chain of affine maps
    * f_t(e) = α·x_t + (1−α)·e, and affine maps compose associatively —
    * so the series can be range-partitioned by time and scanned in TWO
    * passes (the classic parallel-prefix treatment of linear
    * recurrences):
    *
    *  1. each partition composes its rows into one (A, B) map — and also
    *     records the exact "fresh-start" state for the case where it is
    *     the global head;
    *  2. the driver prefix-composes the per-partition summaries (k
    *     numbers for k partitions — trivially collectable at any scale)
    *     into each partition's entry state, and a second pass replays the
    *     exact row recurrence from that entry.
    *
    * Entry states come through the composed maps, so they can differ from
    * the serial recurrence in the last ulp; the deviation's influence
    * decays by (1−α) per row (≈10⁻⁴⁴ after 1000 rows at span 20), which
    * is why [[IndicatorsSpec]] checks 1e-9 agreement with [[emaKernel]].
    * Use [[ema]] (one task per series) when series fit in memory; this is
    * the unbounded-series path. */
  def emaScan(df: DataFrame, n: Int): DataFrame = {
    val alpha = 2.0 / (n + 1).toDouble
    val s = df.sparkSession
    import s.implicits._
    val sorted = graft.Graft.materialize(
      df.select(col("event_id").cast("long"), col("ts").cast("long"),
          col("value").cast("double"))
        .repartitionByRange(col("ts"), col("event_id"))
        .sortWithinPartitions("ts", "event_id"))
    val rdd = sorted.as[(Long, Long, Double)].rdd
    val nParts = rdd.getNumPartitions
    val summaries = rdd.mapPartitionsWithIndex { (pid, it) =>
      var a = 1.0; var b = 0.0
      var seeded = 0.0; var cnt = 0L
      it.foreach { case (_, _, x) =>
        a = (1.0 - alpha) * a
        b = (1.0 - alpha) * b + alpha * x
        seeded = if (cnt == 0) x else alpha * x + (1.0 - alpha) * seeded
        cnt += 1
      }
      Iterator.single((pid, a, b, seeded, cnt))
    }.collect().sortBy(_._1)
    val entries = Array.fill[Option[Double]](nParts)(None)
    var state: Option[Double] = None
    summaries.foreach { case (pid, a, b, seeded, cnt) =>
      entries(pid) = state
      if (cnt > 0) state = Some(state.fold(seeded)(e => a * e + b))
    }
    val bc = s.sparkContext.broadcast(entries)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var st = bc.value(pid)
      it.map { case (id, _, x) =>
        val e = st.fold(x)(p => alpha * x + (1.0 - alpha) * p)
        st = Some(e)
        (id, e)
      }
    }.toDF("event_id", "ema")
  }

  /** Pure Holt linear-trend kernel → (level, trend) per point.
    * Double-exponential smoothing: l_0 = x_0, b_0 = 0;
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * The arithmetic order is load-bearing: the SQL oracle replays the
    * identical expression shape, so values match bit-for-bit. */
  def holtKernel(xs: Array[Double], alpha: Double, beta: Double): Array[(Double, Double)] = {
    val out = new Array[(Double, Double)](xs.length)
    var l = 0.0; var b = 0.0
    var i = 0
    while (i < xs.length) {
      if (i == 0) { l = xs(0); b = 0.0 }
      else {
        val lPrev = l
        l = alpha * xs(i) + (1.0 - alpha) * (lPrev + b)
        b = beta * (l - lPrev) + (1.0 - beta) * b
      }
      out(i) = (l, b)
      i += 1
    }
    out
  }

  /** Holt double-exponential smoothing over the events series shape →
    * (event_id, user_id, level, trend). Same execution shape as [[ema]]:
    * one shuffle keyed by series, per-series kernel scan, ONE series per
    * task (the 2-state recurrence is a chain of affine maps on (l, b),
    * so the [[emaScan]] parallel-prefix treatment extends to it with
    * 2×2 matrix composition if a single series ever outgrows a task). */
  def holt(df: DataFrame, alpha: Double, beta: Double): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts"), col("event_id")) { (uid, it) =>
        val pts = it.toArray
        val lb = holtKernel(pts.map(_._4), alpha, beta)
        pts.iterator.zipWithIndex.map { case (p, i) => (p._2, uid, lb(i)._1, lb(i)._2) }
      }
      .toDF("event_id", "user_id", "level", "trend")
  }

  /** MACD(fast, slow, signal) over the events series shape →
    * (event_id, user_id, macd, signal, hist). */
  def macd(df: DataFrame, fast: Int = 12, slow: Int = 26, sig: Int = 9): DataFrame = {
    val aF = 2.0 / (fast + 1).toDouble
    val aS = 2.0 / (slow + 1).toDouble
    val aG = 2.0 / (sig + 1).toDouble
    val s = df.sparkSession
    import s.implicits._
    df.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts"), col("event_id")) { (uid, it) =>
        val pts = it.toArray
        val ms = macdKernel(pts.map(_._4), aF, aS, aG)
        pts.iterator.zipWithIndex.map { case (p, i) =>
          (p._2, uid, ms(i)._1, ms(i)._2, ms(i)._3)
        }
      }
      .toDF("event_id", "user_id", "macd", "signal", "hist")
  }

  /** Bollinger bands: n-row trailing SMA ± k·sample-stddev, null for the
    * first n−1 warm-up rows (same convention as [[Technical.sma]]). */
  def bollinger(price: Column, n: Int, k: Double, keys: Seq[String],
                order: Seq[Column]): (Column, Column, Column) = {
    val w = Technical.seriesWindow(keys, order)
    val frame = w.rowsBetween(-(n - 1), 0)
    val warm = row_number().over(w) >= n
    val mid = when(warm, avg(price).over(frame))
    val sd = when(warm, stddev_samp(price).over(frame))
    (mid, mid + lit(k) * sd, mid - lit(k) * sd)
  }

  /** Cutler's RSI(n): simple-average gains/losses over the last n changes
    * (the window-expressible RSI variant; Wilder's smoothing is an EMA —
    * see [[ema]] for that recurrence shape). Null until n changes exist;
    * 100 when the average loss is zero. Averages are rounded to 9 dp
    * before the ratio so the result is reproducible across engines
    * (sliding-frame aggregation order differs between implementations). */
  def rsiCutler(price: Column, n: Int, keys: Seq[String],
                order: Seq[Column]): Column = {
    val w = Technical.seriesWindow(keys, order)
    val frame = w.rowsBetween(-(n - 1), 0)
    val diff = price - lag(price, 1).over(w)
    val gain = when(diff.isNull, lit(null).cast("double"))
      .when(diff > 0, diff).otherwise(lit(0.0))
    val loss = when(diff.isNull, lit(null).cast("double"))
      .when(diff < 0, -diff).otherwise(lit(0.0))
    val avgG = round(avg(gain).over(frame), 9)
    val avgL = round(avg(loss).over(frame), 9)
    when(row_number().over(w) >= n + 1,
      when(avgL === 0.0, lit(100.0))
        .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgG / avgL)))
  }

  /** Per-row drawdown from the running peak: value/max_so_far − 1 (≤ 0). */
  def drawdown(price: Column, keys: Seq[String], order: Seq[Column]): Column = {
    val peak = max(price).over(
      Technical.seriesWindow(keys, order).rowsBetween(Window.unboundedPreceding, 0))
    price / peak - 1.0
  }

  /** Cumulative simple return from the series start: value/first − 1. */
  def cumReturn(price: Column, keys: Seq[String], order: Seq[Column]): Column = {
    val start = first(price).over(
      Technical.seriesWindow(keys, order).rowsBetween(Window.unboundedPreceding, 0))
    price / start - 1.0
  }

  /** True range of an OHLC bar: max(high−low, |high−prevClose|,
    * |low−prevClose|); collapses to high−low on the first bar (no
    * previous close), Wilder's convention. */
  def trueRange(high: Column, low: Column, close: Column,
                keys: Seq[String], order: Seq[Column]): Column = {
    val prev = lag(close, 1).over(Technical.seriesWindow(keys, order))
    when(prev.isNull, high - low)
      .otherwise(greatest(high - low, abs(high - prev), abs(low - prev)))
  }

  /** ATR(n), SMA-of-true-range variant (the window-expressible form;
    * Wilder's smoothing is an EMA recurrence — see [[ema]]). Null for the
    * first n−1 warm-up bars. */
  def atr(high: Column, low: Column, close: Column, n: Int,
          keys: Seq[String], order: Seq[Column]): Column = {
    val w = Technical.seriesWindow(keys, order)
    when(row_number().over(w) >= n,
      avg(trueRange(high, low, close, keys, order)).over(w.rowsBetween(-(n - 1), 0)))
  }

  /** Stochastic %K(n): 100·(close − minLow_n)/(maxHigh_n − minLow_n),
    * null during warm-up or when the n-bar range is flat. Rounded to 9 dp
    * so a downstream %D average starts from engine-identical inputs. */
  def stochasticK(high: Column, low: Column, close: Column, n: Int,
                  keys: Seq[String], order: Seq[Column]): Column = {
    val w = Technical.seriesWindow(keys, order)
    val frame = w.rowsBetween(-(n - 1), 0)
    val hh = max(high).over(frame)
    val ll = min(low).over(frame)
    when(row_number().over(w) >= n && hh =!= ll,
      round(lit(100.0) * (close - ll) / (hh - ll), 9))
  }

  /** On-balance volume: running Σ sign(close − prevClose)·volume, starting
    * at 0 on the first bar. Exact when volume is integral (long math). */
  def obv(close: Column, volume: Column,
          keys: Seq[String], order: Seq[Column]): Column = {
    val w = Technical.seriesWindow(keys, order)
    val prev = lag(close, 1).over(w)
    val signed = when(prev.isNull, lit(0L))
      .when(close > prev, volume)
      .when(close < prev, -volume)
      .otherwise(lit(0L))
    sum(signed).over(w.rowsBetween(Window.unboundedPreceding, 0))
  }

  /** Running VWAP: Σ(price·qty)/Σ(qty) from the series start. Frame-ordered
    * running sums add in the same sequence on any engine, so the double
    * accumulation is reproducible. */
  def vwap(price: Column, qty: Column,
           keys: Seq[String], order: Seq[Column]): Column = {
    val frame = Technical.seriesWindow(keys, order)
      .rowsBetween(Window.unboundedPreceding, 0)
    sum(price * qty).over(frame) / sum(qty).over(frame)
  }

  /** Rolling lag-1 autocorrelation over an n-row trailing frame — the
    * single-series stand-in for rolling pair correlation (no calendar
    * alignment needed). Null until the frame holds n (value, prev) pairs.
    * DataFrame-level because the lag must be a concrete column before it
    * can feed another window aggregate (Spark rejects nested windows). */
  def withRollingAutocorr(df: DataFrame, valueCol: String, n: Int,
                          keys: Seq[String], order: Seq[Column],
                          outCol: String): DataFrame = {
    val w = Technical.seriesWindow(keys, order)
    val ac = corr(col(valueCol), col("__prev")).over(w.rowsBetween(-(n - 1), 0))
    df.withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn(outCol, when(row_number().over(w) >= n + 1, ac))
      .drop("__prev")
  }
}
