package graft.scale

import graft.Graft
import graft.analytics.CompareAssets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent-engine anchor for LONG-series DTW — the regime above the
  * `CompareAssets` collect threshold (> 4096 points), which the x1/x2
  * oracle rows never reach (replicas add series, not length; their
  * wavefront oracles run on ~70-point series) and which [[DtwScale]]
  * covers only with an N-version SELF-oracle: both placements are this
  * repo's code, so a shared kernel bug passes both. This harness closes
  * that gap for one sampled ~5k-point pair:
  *
  *  1. builds the pair from replica/sf events exactly as [[DtwScale]]
  *     does (symbol = user_id % groups, per-key arrival position);
  *  2. runs BOTH placements ([[CompareAssets.compare]] with
  *     collectLimit forced to ±∞) — bit-identical dtw + n_points
  *     required (what the anchor pins); the side metrics are held to
  *     the catalog's round-6 contract;
  *  3. dumps the aligned log-return series (pos, a, b) to parquet,
  *     derived independently of `compare` by the date join + window
  *     formulation, and fails loudly if the dumped row count disagrees
  *     with the placements' n_points;
  *  4. prints one JSON line with both values and the kernel's band
  *     width — `scripts/dtw_anchor_check.py` then replays the banded
  *     DP as a DuckDB recursive-CTE wavefront (the x1 oracle shape,
  *     reference algorithms/similarity.py:200-352) over the dumped
  *     parquet and requires spark_collected == spark_aggregator ==
  *     duckdb at the catalog's round-6 DTW comparability contract.
  *
  * Usage: runMain graft.scale.DtwAnchor <sfDir> [maxUser=6000] [groups=2] [outDir=target/tmp/dtw_anchor]
  */
object DtwAnchor {

  private def jq(s: String): String = "\"" + s + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val maxUser = if (args.length > 1) args(1).toLong else 6000L
    val groups = if (args.length > 2) args(2).toInt else 2
    val outDir = if (args.length > 3) args(3) else "target/tmp/dtw_anchor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Graft.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val bars = Graft.materialize(
      Graft.events(spark, sfDir)
        .filter(col("user_id") < maxUser && col("value") > 0)
        .withColumn("symbol", (col("user_id") % groups).cast("string"))
        .withColumn("date", row_number().over(
          Window.partitionBy("symbol").orderBy("ts", "event_id")))
        .select("date", "symbol", "value"))

    // Both dispatch arms over the SAME pair (symbols "0" and "1").
    val t0 = System.nanoTime()
    val collected = CompareAssets.compare(bars, "0", "1",
      valueCol = "value", collectLimit = Long.MaxValue)
    val wallC = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val agg = CompareAssets.compare(bars, "0", "1",
      valueCol = "value", collectLimit = 0L)
    val wallA = (System.nanoTime() - t1) / 1e9
    // The gate pins what the anchor is FOR: the DTW value and the
    // aligned-point count, bit-exact. The side metrics are held to the
    // catalog's round-6 comparability contract.
    val r6 = (x: Double) => math.floor(x * 1e6 + 0.5) / 1e6
    val armsIdentical =
      collected.dtw == agg.dtw && collected.n_points == agg.n_points
    val sideMetricsR6 =
      r6(collected.euclidean) == r6(agg.euclidean) &&
      r6(collected.pearson) == r6(agg.pearson) &&
      r6(collected.cosine) == r6(agg.cosine)

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
    require(dumped == agg.n_points,
      s"dumped pair ($dumped rows) != arms' n_points (${agg.n_points}) — " +
        "the prep replica drifted from CompareAssets.compare")
    // the kernel's band for an equal-length pair (Dtw.distance default)
    val band = math.max(10L, dumped / 4)

    println(s"""{"metric":"dtw_anchor","sf_dir":${jq(sfDir)},""" +
      s""""max_user":$maxUser,"groups":$groups,"n_points":$dumped,""" +
      s""""band":$band,"collect_limit_default":4096,""" +
      s""""dtw_collected":${collected.dtw},"dtw_aggregator":${agg.dtw},""" +
      s""""arms_identical":$armsIdentical,"side_metrics_round6":$sideMetricsR6,""" +
      s""""wall_collected_s":${f"$wallC%.2f"},"wall_aggregator_s":${f"$wallA%.2f"},""" +
      s""""pair_parquet":${jq(s"$outDir/pair.parquet")}}""")
    if (!armsIdentical || !sideMetricsR6) sys.exit(1)
    spark.stop()
  }
}
