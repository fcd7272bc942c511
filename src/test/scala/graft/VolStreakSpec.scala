package graft

import graft.analytics.{Patterns, Volatility}
import graft.io.BarsIO
import org.apache.spark.sql.functions._

/** The vol and streak paths of ReferenceParitySpec, over the committed
  * `dashboard_wide.csv` (5 symbols × 40 dates; AAA falls every day, VOO
  * lacks the closes of 2024-01-08 and 2024-01-22), so they run on any
  * host. Expected values come from this standalone script, run over
  * the same file:
  *
  * {{{
  * import csv, math, statistics
  * rows = list(csv.DictReader(open("src/test/resources/dashboard_wide.csv")))
  * def closes(sym):
  *     return [(r["Date"], None if r[sym + "_Close"] == "None" else float(r[sym + "_Close"])) for r in rows]
  * def vol(sym):
  *     ps = [p for _, p in sorted(closes(sym)) if p is not None]
  *     rets = [math.log(b / a) for a, b in zip(ps, ps[1:]) if a > 0 and b > 0]
  *     return statistics.stdev(rets) * math.sqrt(252)
  * for s in ("AAA", "VOO"):
  *     print(s, repr(vol(s)))
  * ps = [0.0 if p is None else p for _, p in sorted(closes("VOO"))]
  * ups = [0] + [1 if b > a else 0 for a, b in zip(ps, ps[1:])]
  * w = 20
  * hist = {}
  * for s in range(max(1, len(ups) - w + 1)):
  *     run = 0
  *     for u in ups[s:s + w] + [0]:
  *         if u: run += 1
  *         elif run: hist[run] = hist.get(run, 0) + 1; run = 0
  * print(dict(sorted(hist.items())), "max", max(hist), "ups", sum(ups), "windows", max(1, len(ups) - w + 1))
  * }}}
  *
  * which prints `AAA 0.09414147800245098`, `VOO 0.14340487539152905`
  * and `{1: 31, 2: 4, 3: 8, 4: 3, 5: 13, 6: 15} max 6 ups 21 windows 21`. */
class VolStreakSpec extends SparkSpec {

  private val csv = java.nio.file.Paths.get(
    getClass.getResource("/dashboard_wide.csv").toURI).toString
  private lazy val bars = BarsIO.readLong(spark, csv)

  private val keys = Seq("symbol")
  private val order = Seq(col("date"))

  test("annualized volatility of AAA and VOO (null closes dropped first)") {
    val vols = Volatility.annualized(
      bars.filter(col("symbol").isin("AAA", "VOO") && col("close").isNotNull),
      col("close"), keys, order)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(vols.keySet == Set("AAA", "VOO"))
    assert(approx(vols("AAA"), 0.09414147800245098, 1e-12), vols)
    assert(approx(vols("VOO"), 0.14340487539152905, 1e-12), vols)
  }

  test("VOO streak histogram and stats at window 20 (null closes as 0.0)") {
    val voo = bars.filter(col("symbol") === "VOO")
      .withColumn("close", coalesce(col("close"), lit(0.0)))
    val hist = Patterns.streakHistogram(voo, col("close"), keys, order, 20)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(hist == Map(1 -> 31L, 2 -> 4L, 3 -> 8L, 4 -> 3L, 5 -> 13L, 6 -> 15L))
    val stats = Patterns.streakStats(voo, col("close"), keys, order, 20).head()
    assert(stats.getAs[Int]("max_streak") == 6)
    assert(stats.getAs[Long]("total_ups") == 21L)
    assert(stats.getAs[Long]("total_windows") == 21L)
  }
}
