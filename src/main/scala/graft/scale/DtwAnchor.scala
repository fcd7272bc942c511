package graft.scale

import graft.Graft
import graft.analytics.CompareAssets
import graft.io.ApiJson.jstr
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Long-series DTW checks for `CompareAssets.compare`, above its collect
  * threshold (> 4096 points), which the x1/x2 oracle rows never reach
  * (replicas add series, not length). This is the reference's
  * cross-implementation check (benchmarks/timing.py:104-134) at replica
  * scale, plus an independent engine:
  *
  *  1. builds `groups` series from replica/sf events (symbol =
  *     user_id % groups, date = per-key arrival position);
  *  2. runs every pair i < j through BOTH placements (`collectLimit`
  *     forced to ±∞: the kernel on the driver, and inside
  *     [[graft.analytics.PairSimilarityAggregator]] merged over many
  *     partitions) and requires all five result fields bit-identical;
  *  3. dumps pair (0,1)'s aligned log-return series (pos, a, b) to
  *     parquet, derived by a date join + window independent of
  *     `compare`, and fails if its row count differs from n_points;
  *  4. prints one JSON line — `scripts/dtw_anchor_check.py` replays the
  *     banded DP over the dump as a DuckDB recursive-CTE wavefront (the
  *     x1 oracle shape) and requires both placements == DuckDB at the
  *     catalog's round-6 DTW contract.
  *
  * Exits 1 when any pair's placements differ.
  *
  * Usage: runMain graft.scale.DtwAnchor <sfDir> [maxUser=6000] [groups=2] [outDir=target/tmp/dtw_anchor]
  */
object DtwAnchor {

  /** One pair through both placements; `same` = all five fields equal. */
  private final case class PairRun(i: Int, j: Int, collected: CompareAssets.SimilarityResult,
      agg: CompareAssets.SimilarityResult, wallC: Double, wallA: Double) {
    def same: Boolean = collected == agg
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val maxUser = if (args.length > 1) args(1).toLong else 6000L
    val groups = if (args.length > 2) args(2).toInt else 2
    val outDir = if (args.length > 3) args(3) else "target/tmp/dtw_anchor"
    require(groups >= 2, s"groups must be >= 2, got $groups")
    val spark = Graft.envSession()

    val bars = Graft.materialize(
      Graft.events(spark, sfDir)
        .filter(col("user_id") < maxUser && col("value") > 0)
        .withColumn("symbol", (col("user_id") % groups).cast("string"))
        .withColumn("date", row_number().over(
          Window.partitionBy("symbol").orderBy("ts", "event_id")))
        .select("date", "symbol", "value"))

    def timed(collectLimit: Long, i: Int, j: Int) = {
      val t0 = System.nanoTime()
      val r = CompareAssets.compare(bars, i.toString, j.toString,
        valueCol = "value", collectLimit = collectLimit)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val pairs = for (i <- 0 until groups; j <- (i + 1) until groups) yield {
      val (collected, wallC) = timed(Long.MaxValue, i, j)
      val (agg, wallA) = timed(0L, i, j)
      val p = PairRun(i, j, collected, agg, wallC, wallA)
      System.err.println(f"[dtw-anchor] pair ($i,$j): n=${agg.n_points} " +
        f"dtw=${agg.dtw}%.6f collected=$wallC%.1fs aggregator=$wallA%.1fs same=${p.same}")
      p
    }
    val identical = pairs.forall(_.same)
    val anchor = pairs.head

    // Dump the aligned return series by the date join + window
    // formulation, independent of compare's own scan.
    val a = bars.filter(col("symbol") === "0")
      .select(col("date").as("d"), col("value").as("pa"))
    val b = bars.filter(col("symbol") === "1")
      .select(col("date").as("d"), col("value").as("pb"))
    val aligned = a.join(b, "d")
      .filter(col("pa").isNotNull && col("pb").isNotNull &&
        col("pa") > 0 && col("pb") > 0)
    val w = Window.orderBy("d")
    val rets = aligned
      .withColumn("prev_a", lag(col("pa"), 1).over(w))
      .withColumn("prev_b", lag(col("pb"), 1).over(w))
      .filter(col("prev_a").isNotNull)
      .select(row_number().over(w).cast("long").as("pos"),
        when(col("pa") > 0 && col("prev_a") > 0, log(col("pa") / col("prev_a")))
          .otherwise(0.0).as("a"),
        when(col("pb") > 0 && col("prev_b") > 0, log(col("pb") / col("prev_b")))
          .otherwise(0.0).as("b"))
    rets.coalesce(1).write.mode("overwrite").parquet(s"$outDir/pair.parquet")
    val dumped = spark.read.parquet(s"$outDir/pair.parquet").count()
    require(dumped == anchor.agg.n_points,
      s"dumped pair ($dumped rows) != arms' n_points (${anchor.agg.n_points}) — " +
        "the prep replica drifted from CompareAssets.compare")
    // the kernel's band for an equal-length pair (Dtw.distance default)
    val band = math.max(10L, dumped / 4)

    val pairJson = pairs.map { p =>
      val r = p.agg
      s"""{"a":${p.i},"b":${p.j},"n_points":${r.n_points},"dtw":${r.dtw},""" +
        s""""euclidean":${r.euclidean},"pearson":${r.pearson},""" +
        s""""wall_collected_s":${f"${p.wallC}%.2f"},"wall_aggregator_s":${f"${p.wallA}%.2f"},""" +
        s""""identical":${p.same}}"""
    }
    println(s"""{"metric":"dtw_anchor","sf_dir":${jstr(sfDir)},""" +
      s""""max_user":$maxUser,"groups":$groups,"n_points":$dumped,""" +
      s""""band":$band,"collect_limit_default":4096,""" +
      s""""dtw_collected":${anchor.collected.dtw},"dtw_aggregator":${anchor.agg.dtw},""" +
      s""""arms_identical":$identical,""" +
      s""""wall_collected_s":${f"${anchor.wallC}%.2f"},"wall_aggregator_s":${f"${anchor.wallA}%.2f"},""" +
      s""""pair_parquet":${jstr(s"$outDir/pair.parquet")},""" +
      s""""pairs":${pairJson.mkString("[", ",", "]")}}""")
    if (!identical) sys.exit(1)
    spark.stop()
  }
}
