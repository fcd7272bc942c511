package graft.scale

// Rep-variance diagnostic: runs ONE catalog query `reps` times in one
// JVM (the bench convention: a blocking release between reps) and prints
// per rep the wall, Janino compiles, JIT ms and the top stages of that
// rep by task time (tasks, attempts, run/GC/CPU sums, median and max
// task, max/median ratio, scope), so a slow rep names the stage it
// spends its time in. The final executed plan and its operator metrics
// go to /tmp/repplan_<query>_<rep>.txt and /tmp/repmetrics_<...>.txt;
// a failed dump is reported on stderr and the probe exits 1.
//
// Usage: runMain graft.scale.RepProbe <sfDir> <query> [reps=5] [preamble-csv]
import graft.{Graft, RunEnv, SparkEntry}
import scala.util.control.NonFatal

object RepProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val reps = if (args.length > 2) args(2).toInt else 5
    // Optional 4th arg: comma-separated query names to run ONCE (untimed)
    // before probing — reproduces suite context (compile-queue pressure,
    // profile pollution, cache state) that a solo probe cannot: the r14
    // d11 bistability only appears when other d-family queries ran first.
    val preamble: Seq[String] =
      if (args.length > 3) args(3).split(",").toSeq else Seq.empty
    val spark = Graft.envSession()
    val stats = StageStats.attach(spark.sparkContext)
    // executed-plan capture (final AQE plan): written per rep so slow and
    // fast reps of the same query can be diffed for plan flips.
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[String]("")
    val lastQe = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution](null)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        lastPlan.set(qe.executedPlan.toString)
        lastQe.set(qe)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    // Per-operator metric dump (duration/time metrics + row counts) for
    // the final executed plan of the rep — localizes WHICH operator a
    // slow rep burns its extra CPU in when the plan shape is identical.
    def metricLines(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        val interesting = p.metrics.filter { case (k, m) =>
          k.toLowerCase.contains("time") || k.toLowerCase.contains("duration") ||
            k == "numOutputRows" }
        if (interesting.nonEmpty) {
          val s = interesting.map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
          out += f"${p.nodeName.take(40)}%-40s $s"
        }
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
          case r: org.apache.spark.sql.execution.InputAdapter => walk(r.child)
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => walk(w.child)
          case o => o.children.foreach(walk)
        }
      }
      walk(qe.executedPlan)
      out.toSeq
    }
    val q = SparkEntry.queries(name)
    preamble.foreach { p =>
      val t0 = System.nanoTime()
      SparkEntry.queries(p)(spark, sfDir).write.mode("overwrite").format("noop").save()
      Graft.releaseMaterialized(spark, blocking = true)
      println(f"PREAMBLE $p wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    // Janino compilation counters (CodegenMetrics is the object Spark's
    // CodeGenerator.compile updates on every cache MISS): per-rep deltas
    // say whether the codegen class cache is actually hitting across reps
    // of the same query, or every rep recompiles fresh sources.
    val cgm = org.apache.spark.metrics.source.CodegenMetrics
    def cgCount: Long = cgm.METRIC_COMPILATION_TIME.getCount
    var prevCg = cgCount
    // JIT-side telemetry per rep: cumulative HotSpot compile ms plus the
    // code-heap pools — the r13 local[32] pathology hypothesis is code
    // cache exhaustion (retained codegen classes -> compiler disabled ->
    // interpreted hot loops), which THIS is the direct measurement of.
    def jitMs: Long = {
      val c = java.lang.management.ManagementFactory.getCompilationMXBean
      if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1
    }
    var prevJit = jitMs
    var dumpFailed = false
    (1 to reps).foreach { i =>
      stats.clear()
      val t0 = System.nanoTime()
      q(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Graft.releaseMaterialized(spark, blocking = true)
      val cgNow = cgCount
      val jitNow = jitMs
      val stages = stats.stages
      println(f"REP $i wall=$wall%7.2f s  sumRun=${stages.map(_.runS).sum}%8.1f sumGc=${stages.map(_.gcS).sum}%7.1f sumCpu=${stages.map(_.cpuS).sum}%8.1f cgCompiles=${cgNow - prevCg} jitMs=${jitNow - prevJit}")
      println(s"    jit=${RunEnv.jitJson}")
      prevCg = cgNow
      prevJit = jitNow
      stages.sortBy(-_.runS).take(8).foreach { s =>
        println(f"    stage=${s.id}%-5d n=${s.tasks}%-4d att=${s.attempts} run=${s.runS}%8.1f gc=${s.gcS}%6.1f cpu=${s.cpuS}%8.1f med=${s.medianS}%7.2f maxTask=${s.maxS}%7.1f ratio=${s.ratio}%6.2f failed=${s.failedTasks}  ${s.scope.take(120)}")
      }
      stats.failures.foreach(j => println(s"    $j"))
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"/tmp/repplan_$name%s_$i%02d.txt"), lastPlan.get())
        if (lastQe.get() != null) java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f"/tmp/repmetrics_$name%s_$i%02d.txt"),
          metricLines(lastQe.get()).mkString("\n"))
      } catch { case NonFatal(e) =>
        dumpFailed = true
        System.err.println(s"[repprobe] rep $i dump failed: ${RunEnv.errorJson(e)}")
      }
    }
    spark.stop()
    if (dumpFailed) sys.exit(1)
  }
}
