package graft

import scala.util.control.NonFatal
import scala.util.matching.Regex

/** Diagnostic: dump `.explain("formatted")` for declared queries to files.
  *
  *   runMain graft.PlanDump <outDir> <suffix> [names-csv|all] [sfDir]
  *
  * Writes `<outDir>/<query>_<suffix>.txt` per query — the round's plan
  * evidence (`plans/rNN/<query>_before.txt` / `..._after.txt`), passed
  * through [[normalize]] so two dumps of one commit diff as equal, except
  * where a plan embeds values collected while it was built. Plans are
  * the ANALYZED-at-submit physical plans (AQE `isFinalPlan=false`), which
  * is what `explain` can show without executing; Exchange counts, join
  * strategies, PushedFilters and ReadSchema are all visible at this stage.
  *
  * LIMITATION (materialize/localCheckpoint-backed queries): constructing
  * such a DataFrame EXECUTES the pipeline up to the last checkpoint, so
  * the dump pays that runtime and the plan shows only the post-checkpoint
  * tail over `Scan ExistingRDD` (e.g. the g-family iteratives). The real
  * compute plans for those queries must come from executed-plan capture
  * during a run — RepProbe's QueryExecutionListener does exactly that
  * (per-rep /tmp/repplan_* dumps).
  *
  * Session config (SPARK_GRAFT_CPUS default 4, SPARK_GRAFT_CONF overlay)
  * resolves in Graft.envSession — shared with Bench, so a dumped plan
  * matches the plan the identically-configured bench runs. Exits nonzero
  * if any requested dump fails, so missing plan evidence is loud.
  */
object PlanDump {
  private val Lambda = """\$\$Lambda[$\d]*/0x\p{XDigit}+""".r
  private val IdentityHash = """(?<=[\w$])@\p{XDigit}+\b""".r
  private val Counter = """(#|plan_id=|RDD\[)(\d+)""".r

  /** `plan` with what differs between two builds of the same query
    * masked: the JVM's lambda class names become `$$Lambda`, object
    * identity hashes (`Class@1a2b3c4d`) are dropped, and Spark's global
    * counters (expression ids `#N`, exchange `plan_id=N`, checkpointed
    * `RDD[N]`) are renumbered in order of first appearance. */
  def normalize(plan: String): String = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val masked = IdentityHash.replaceAllIn(
      Lambda.replaceAllIn(plan, Regex.quoteReplacement("$$Lambda")), "@")
    Counter.replaceAllIn(masked,
      m => m.group(1) + seen.getOrElseUpdate(m.matched, seen.size + 1))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Graft.envSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    var nFailed = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = normalize(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok (${plan.count(_ == '\n')} lines)")
      } catch { case NonFatal(e) =>
        nFailed += 1
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally Graft.releaseMaterialized(spark)
    }
    spark.stop()
    if (nFailed > 0) {
      println(s"[plandump] $nFailed of ${names.size} dumps FAILED")
      sys.exit(1)
    }
  }
}
