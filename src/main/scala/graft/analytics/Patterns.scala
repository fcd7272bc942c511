package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding-window pattern detection (reference algorithms/patterns.py —
  * SURVEY.md §2.5 W4-W6, §2.9 X4).
  *
  * Semantics preserved exactly:
  *  - ups[0] = 0 (first row has no predecessor); null closes → 0
  *  - a streak is counted once per window that contains/clips it
  *    (patterns.py:118-141), NOT once globally
  *  - windows are the n−w+1 full windows (w clamped to [2, n])
  *  - gaps[i] = 1 iff open[i] > high[i−1], both non-null
  *
  * Scale: ups/gaps are one lag window; the streak histogram works on
  * run ids and never collects a window into an array (constant-size
  * rows, the reference's O(n·w) work).
  */
object Patterns {

  /** X4 kernel: lengths of maximal 1-runs inside one window array. */
  def runLengths(window: Seq[Int]): Seq[Int] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var cur = 0
    window.foreach { u =>
      if (u == 1) cur += 1
      else if (cur > 0) { runs += cur; cur = 0 }
    }
    if (cur > 0) runs += cur
    runs.toSeq
  }

  /** Binary up-day column: 1 iff value > previous value, both non-null;
    * first row of each series is 0 (patterns.py:92-104). */
  def ups(value: Column, keys: Seq[String], order: Seq[Column]): Column = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val prev = lag(value, 1).over(w)
    when(prev.isNotNull && value.isNotNull && value > prev, 1).otherwise(0)
  }

  /** Gap-up column: 1 iff open > previous high, both non-null
    * (patterns.py:221-232). */
  def gaps(open: Column, high: Column, keys: Seq[String], order: Seq[Column]): Column = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val prevHigh = lag(high, 1).over(w)
    when(prevHigh.isNotNull && open.isNotNull && open > prevHigh, 1).otherwise(0)
  }

  /** W4/X4: per-window clipped streak histogram. Output: one row per
    * (series key, streak_len) with its frequency across all windows.
    * Clipping a window can neither merge nor split a maximal 1-run, so
    * every entry is the overlap of one global run [s, e] with one window
    * [p, p+w−1]: gaps-and-islands run ids, then each run explodes only
    * its ≤ L+w−1 overlapping window starts. Equals [[runLengths]] over
    * every clipped window (PatternsSpec). */
  def streakHistogram(df: DataFrame, value: Column, keys: Seq[String],
      order: Seq[Column], windowSize: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val upped = df.withColumn("up", ups(value, keys, order))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val runs = upped.filter(col("up") === 1)
      // island id: rn minus the rank among up-rows is constant per run
      .withColumn("grp", col("rn") - row_number().over(w))
      .groupBy(keys.map(col) :+ col("grp"): _*)
      .agg(min(col("rn")).as("s"), max(col("rn")).as("e"),
        first(col("n")).as("n"))
    val lastWin = greatest(lit(1), col("n") - windowSize + 1)
    runs
      // ascending always: max(1, s−w+1) ≤ min(lastWin, e) for any run
      .withColumn("p", explode(sequence(
        greatest(lit(1), col("s") - (windowSize - 1)),
        least(lastWin, col("e")))))
      .withColumn("streak_len",
        (least(col("e"), col("p") + (windowSize - 1)) -
          greatest(col("s"), col("p")) + 1).cast("int")) // match the kernel's int lengths
      .groupBy((keys :+ "streak_len").map(col): _*)
      .agg(count(lit(1)).as("freq"))
  }

  /** W4 scalars: max_streak / total_ups / total_windows per series. */
  def streakStats(df: DataFrame, value: Column, keys: Seq[String],
      order: Seq[Column], windowSize: Int): DataFrame = {
    val hist = streakHistogram(df, value, keys, order, windowSize)
      .groupBy(keys.map(col): _*)
      .agg(max(col("streak_len")).as("max_streak0"))
    val base = df.withColumn("up", ups(value, keys, order))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("up")).as("total_ups"),
        greatest(lit(1), count(lit(1)) - windowSize + 1).as("total_windows"))
    base.join(hist, keys, "left")
      .withColumn("max_streak", coalesce(col("max_streak0"), lit(0)))
      .drop("max_streak0")
  }

  /** W6: full pattern-scan façade (patterns.py:271-292) — streak stats +
    * gap stats in one call. `zeroSubstituteNulls` reproduces the
    * dashboard's null→0.0 substitution before scanning (app.py:384,
    * 426-428 — SURVEY.md §7.4.2: it manufactures up-days/gap-ups at data
    * holes; bit-parity requires opting in). */
  def scan(df: DataFrame, close: Column, open: Column, high: Column,
      keys: Seq[String], order: Seq[Column], windowSize: Int,
      zeroSubstituteNulls: Boolean = false): DataFrame = {
    val (c, o, h) =
      if (zeroSubstituteNulls)
        (coalesce(close, lit(0.0)), coalesce(open, lit(0.0)), coalesce(high, lit(0.0)))
      else (close, open, high)
    streakStats(df, c, keys, order, windowSize)
      .join(gapStats(df, o, h, keys, order, windowSize), keys)
  }

  /** W5: per-window gap-up counts (the sliding frame IS the reference's
    * O(n) add/subtract accumulator) + per-series totals/max. */
  def gapWindows(df: DataFrame, open: Column, high: Column, keys: Seq[String],
      order: Seq[Column], windowSize: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("gap", gaps(open, high, keys, order))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .withColumn("gaps_in_window",
        sum(col("gap")).over(w.rowsBetween(0, windowSize - 1)))
      .filter(col("rn") <= greatest(lit(1), col("n") - windowSize + 1))
  }

  def gapStats(df: DataFrame, open: Column, high: Column, keys: Seq[String],
      order: Seq[Column], windowSize: Int): DataFrame = {
    val maxPerWindow = gapWindows(df, open, high, keys, order, windowSize)
      .groupBy(keys.map(col): _*)
      .agg(max(col("gaps_in_window")).as("max_gaps_in_window"))
    val totals = df.withColumn("gap", gaps(open, high, keys, order))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("gap")).as("total_gaps"))
    totals.join(maxPerWindow, keys)
  }
}
