package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main. Runs every `SparkEntry.queries` entry `SPARK_GRAFT_REPS`
  * times (default 3) after an untimed warmup and reports the per-query
  * MEDIAN (plus min, for noise diagnosis). Single-shot numbers on this
  * host are unadjudicable — co-tenant load spikes wall-times 2-4x — so the
  * median across reps is the only number the JSON line headlines.
  * `/proc/loadavg` is sampled before and after the run and emitted so a
  * noisy-host run is visible in the artifact itself.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // Session config (cpus + SPARK_GRAFT_CONF A/B overlay, driver never
    // sets the latter) resolves in ONE place shared with RepProbe and
    // PlanDump (Graft.envSession), so dump/probe config provably matches
    // bench config; RunEnv records the overlay in the artifact.
    val spark = Graft.envSession()
    val loadBefore = RunEnv.loadavg
    val stealBefore = RunEnv.stealTicks
    val errors = warmup(spark, sfDir)
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
      val ts = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        // noop sink: materializes every column of every row (count() would
        // let Catalyst prune the plan down to a row count).
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name: ${e.getMessage}")
          }
          None
        } finally {
          // Cache-honesty (untimed): this release applies to EVERY
          // Graft.materialize/materializeDisk-backed query — ~20 call
          // sites across operators/ (the g-family graph queries, e10,
          // t21, t37, f15, f18, t40, d9, ...), not just f18. Without it
          // a materialize-backed query reads its own checkpoint/columnar
          // blocks warm on reps after the first (persist-backed plans
          // additionally plan-match the CacheManager), and the headline
          // median lands ~1.5-3x flatter than the cold number a fresh
          // session pays (measured movers at sf0.1: f18 0.97->2.59 s,
          // e10 2.83x, g1 1.85x, t37 1.74x). From r12 on every rep is
          // cold-equivalent; artifacts before r12 report warm medians
          // for the whole materialize-backed class, so cross-round
          // per-query diffs for that class must baseline at r12's
          // artifact (bench_sf01_r12.json), not r11's.
          // MUST be blocking: a fire-and-forget sweep executes its
          // block removals on the worker threads DURING the next timed
          // rep — measured at local[4]/sf0.1 as a broad 1.1-1.2x wall
          // inflation with 2-4x spikes on checkpoint-heavy small
          // queries. Blocking puts that work in this untimed gap.
          Graft.releaseMaterialized(spark, blocking = true)
        }
      }
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
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":${obj(med)},"queries_min":${obj(mins)},"failed":$fs,"errors":${errors.mkString("[", ",", "]")},"loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","steal":$stealObj,"sf":"$sfDir","env":${RunEnv.json(cpus, reps)}}"""
    println(line)
    // The stdout line travels through sbt's [info] prefixing and the
    // driver's tail truncation; the file is the machine-parseable copy.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] json write failed: $e") }
    spark.stop()
  }
}
