package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main. Runs every `SparkEntry.queries` entry `SPARK_GRAFT_REPS`
  * times (default 3) after an untimed warmup and reports the per-query
  * MEDIAN (plus min, for noise diagnosis). Single-shot numbers on this
  * host are unadjudicable — co-tenant load spikes wall-times 2-4x — so the
  * median across reps is the only number the JSON line headlines.
  * `/proc/loadavg` is sampled before and after the run and emitted so a
  * noisy-host run is visible in the artifact itself. The artifact's
  * `errors` holds the warm-up's and each failed query's first failure;
  * `env.errors` holds the failed environment probes ([[RunEnv.errors]]).
  */
object Bench {
  /** Untimed warm-up: JIT/codegen/first-read costs land here, not on
    * whichever query happens to run first. Returns the failures as
    * `RunEnv.errorJson` entries for the artifact's `errors` array: the
    * bench still runs after a failed warm-up, but its artifact says so. */
  def warmup(spark: SparkSession, sfDir: String): Seq[String] =
    try {
      spark.range(1 << 20).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "events", "documents", "embeddings")
        .foreach(t => Graft.table(spark, sfDir, t).limit(1).count())
      // touch the heavyweight operator paths (window exec, typed
      // groupByKey codegen, generators, joins) so their one-time JIT
      // doesn't land on whichever query alphabetically runs them first
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val tiny = spark.range(64).select(col("id"), (col("id") % 4).as("k"))
      tiny.withColumn("r", row_number().over(
          Window.partitionBy("k").orderBy("id")))
        .select(explode(array(col("r"), col("r")))).count()
      tiny.as[(Long, Long)].groupByKey(_._2)
        .flatMapGroups((_, it) => it.map(_._1)).count()
      tiny.join(tiny.select(col("id").as("id2")), col("id") === col("id2"))
        .count()
      Seq.empty
    } catch { case NonFatal(e) => Seq(RunEnv.errorJson(e)) }

  /** Times `reps` runs of one query into the noop sink, which
    * materializes every column of every row (count() would let Catalyst
    * prune the plan down to a row count). A failed rep yields no time;
    * the query's first failure is returned as an error entry. */
  def timeReps(spark: SparkSession, name: String, reps: Int)(
      query: => DataFrame): (Seq[Double], Option[String]) = {
    var error: Option[String] = None
    val ts = (1 to reps).flatMap { _ =>
      val t0 = System.nanoTime()
      try {
        query.write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        if (error.isEmpty) {
          error = Some(RunEnv.errorJson(e, name))
          System.err.println(s"[bench] $name: ${e.getMessage}")
        }
        None
      } finally {
        // Cache honesty (untimed): every rep starts with no
        // materialized frame of an earlier rep, so each rep pays the
        // cold cost a fresh session pays. Blocking, so no block removal
        // runs on the workers during the next timed rep. Medians of the
        // materialize-backed queries before bench_sf01_r12.json are
        // warm and do not compare (SCALE_r12.md).
        Graft.releaseMaterialized(spark, blocking = true)
      }
    }
    (ts, error)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = Graft.envSession()
    val loadBefore = RunEnv.loadavg
    val stealBefore = RunEnv.stealTicks
    val errors = scala.collection.mutable.ListBuffer[String](warmup(spark, sfDir): _*)
    val failed = scala.collection.mutable.ListBuffer[String]()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Local-iteration subset (driver never sets it): comma-separated names.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query hypervisor-steal attribution: steal ticks are sampled
    // around each query's rep group; queries whose reps coincided with a
    // steal burst land in steal_by_query so a polluted median is
    // distinguishable from a regression (only >0.5 s entries are emitted
    // to keep the JSON line compact on clean runs).
    val stealByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val timings = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val st0 = RunEnv.stealTicks
      val (ts, error) = timeReps(spark, name, reps)(fn(spark, sfDir))
      error.foreach { e => failed += name; errors += e }
      val st1 = RunEnv.stealTicks
      if (st0 >= 0 && st1 > st0 && (st1 - st0) / 100.0 > 0.5)
        stealByQuery(name) = (st1 - st0) / 100.0
      name -> ts
    }
    val med = timings.map { case (n, ts) => n -> (if (ts.nonEmpty) median(ts) else -1.0) }.toMap
    val mins = timings.map { case (n, ts) => n -> (if (ts.nonEmpty) ts.min else -1.0) }.toMap
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = med.values.filter(_ >= 0).sum
    val loadAfter = RunEnv.loadavg
    // `env` makes the artifact self-describing (sha/cpus/reps/heap/GC —
    // r10 verdict item 1); the loadavg_* fields predate it and stay for
    // cross-round artifact compatibility.
    val stealAfter = RunEnv.stealTicks
    val stealTotal =
      if (stealBefore >= 0 && stealAfter >= stealBefore) (stealAfter - stealBefore) / 100.0 else -1.0
    val stealObj = s"""{"total_s":$stealTotal,"by_query":${obj(stealByQuery.toMap)}}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":${obj(med)},"queries_min":${obj(mins)},"failed":$fs,"errors":${errors.mkString("[", ",", "]")},"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","steal":$stealObj,"sf":"$sfDir","env":${RunEnv.json(Graft.cpus, reps)}}"""
    println(line)
    // The stdout line travels through sbt's [info] prefixing and the
    // driver's tail truncation; the file is the machine-parseable copy.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) => System.err.println(s"[bench] json write failed: $e") }
    spark.stop()
  }
}
