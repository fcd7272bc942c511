package graft.scale

import graft.Graft
import graft.analytics.CompareAssets
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Replica-scale N-version verification of `CompareAssets.compare`'s two
  * placements — the benchmarks/timing.py:104-134 cross-implementation
  * pattern applied to the path nothing else exercises at replica scale.
  *
  * A pair below `collectLimit` is collected and the kernel runs on the
  * driver; a longer pair stays distributed and the same kernel runs
  * inside [[graft.analytics.PairSimilarityAggregator]] on the final
  * aggregate task. This harness builds series hundreds of times past the
  * threshold from a scale replica's events (key = user_id % groups,
  * value series aligned by per-key position), runs the same pair through
  * both placements by forcing `collectLimit` to ±∞, and requires every
  * result field bit-identical. InvariantsSpec and CompareAssetsSpec
  * check this at fixture scale; here the aggregator's merge spans many
  * partitions of real replica series.
  *
  * Usage: runMain graft.scale.DtwScale <sfDir> [maxUser=6000] [groups=4]
  */
object DtwScale {

  private def jq(s: String): String = "\"" + s + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val maxUser = if (args.length > 1) args(1).toLong else 6000L
    val groups = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Bars shape for CompareAssets: key = user_id % groups, calendar =
    // per-key arrival position (deterministic ts, event_id order).
    val bars = Graft.materialize(
      Graft.events(spark, sfDir)
        .filter(col("user_id") < maxUser && col("value") > 0)
        .withColumn("symbol", (col("user_id") % groups).cast("string"))
        .withColumn("date", row_number().over(
          Window.partitionBy("symbol").orderBy("ts", "event_id")))
        .select("date", "symbol", "value"))
    val seriesLen = bars.groupBy("symbol").count()
      .agg(min("count"), max("count")).head()
    System.err.println(s"[dtw-scale] $groups series, " +
      s"${seriesLen.getLong(0)}–${seriesLen.getLong(1)} points each")

    val pairs = for (i <- 0 until groups; j <- (i + 1) until groups) yield (i, j)
    var identical = true
    val rows = pairs.map { case (i, j) =>
      val t0 = System.nanoTime()
      val collected = CompareAssets.compare(bars, i.toString, j.toString,
        valueCol = "value", collectLimit = Long.MaxValue)
      val wallC = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val agg = CompareAssets.compare(bars, i.toString, j.toString,
        valueCol = "value", collectLimit = 0L)
      val wallA = (System.nanoTime() - t1) / 1e9
      // Bit-identical, not approximately equal: both arms run the same
      // kernel on the same rows.
      val same = collected == agg
      identical &= same
      System.err.println(f"[dtw-scale] pair ($i,$j): n=${agg.n_points} " +
        f"dtw=${agg.dtw}%.6f collected=$wallC%.1fs aggregator=$wallA%.1fs same=$same")
      s"""{"a":$i,"b":$j,"n_points":${agg.n_points},"dtw":${agg.dtw},""" +
        s""""euclidean":${agg.euclidean},"pearson":${agg.pearson},""" +
        s""""wall_collected_s":${f"$wallC%.2f"},"wall_aggregator_s":${f"$wallA%.2f"},""" +
        s""""identical":$same}"""
    }

    println(s"""{"metric":"dtw_nversion","sf_dir":${jq(sfDir)},""" +
      s""""max_user":$maxUser,"groups":$groups,""" +
      s""""min_points":${seriesLen.getLong(0)},"max_points":${seriesLen.getLong(1)},""" +
      s""""collect_limit_default":4096,""" +
      s""""pairs":[${rows.mkString(",")}],"identical":$identical}""")
    if (!identical) sys.exit(1)
    spark.stop()
  }
}
