package graft

import graft.io.ApiJson.jstr
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Run-environment fingerprint embedded in every bench/correctness
  * artifact this repo emits (r10 verdict item 1): git SHA (+ dirty
  * flag), thread count, rep count, JVM max heap + GC, java version,
  * and loadavg. Before this, cross-round comparisons had to
  * reverse-engineer the run config by fingerprinting loadavg_after
  * against prose in the SCALE notes — the artifact now says "32
  * threads" itself. BenchEnvSpec pins the fields and that the sha is
  * HEAD at write time.
  *
  * A probe that fails returns its fallback ("", -1, empty) and records
  * the failure in [[errors]], which [[json]] carries as `errors`;
  * `Verify` records each query that fails to dump there too.
  */
object RunEnv {

  private val recorded = mutable.LinkedHashSet.empty[String]

  /** The failures recorded so far, each once, as [[errorJson]]
    * entries naming the probe or query. */
  def errors: Seq[String] = recorded.synchronized(recorded.toSeq)

  /** Adds `e`, failed in `source`, to [[errors]]. */
  private[graft] def record(e: Throwable, source: String): Unit =
    recorded.synchronized(recorded += errorJson(e, source))

  /** `f`, or `fallback` once the failure is recorded in [[errors]]. */
  private[graft] def probe[A](source: String, fallback: A)(f: => A): A =
    try f catch {
      case NonFatal(e) =>
        record(e, source)
        fallback
    }

  private[graft] def sh(cmd: String*): String = probe(cmd.mkString(" "), "") {
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
    val code = p.waitFor()
    if (code != 0) throw new IllegalStateException(s"exit $code: $out")
    out
  }

  def gitSha: String = sh("git", "rev-parse", "HEAD")

  /** Tracked-file modifications only: an artifact produced with edits
    * not in `gitSha` must say so (untracked build/output dirs are
    * normal and don't taint the fingerprint). */
  def gitDirty: Boolean =
    sh("git", "status", "--porcelain", "--untracked-files=no").nonEmpty

  def loadavg: String = probe("RunEnv.loadavg", "") {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).mkString(",") finally src.close()
  }

  /** Cumulative hypervisor steal ticks (field 8 of /proc/stat's cpu
    * line). This guest runs on a shared host: steal bursts inflate
    * wall-times 2-4x for whole minutes (alphabetically CONSECUTIVE
    * queries spike together in polluted runs — the r14 validation run
    * saw t13..t17 all 5-20x with flat per-rep ratios). A before/after
    * delta in the artifact tells a polluted run from a regression
    * without re-running. USER_HZ is 100 on this platform: ticks/100 ≈
    * stolen CPU-seconds across all vCPUs. */
  def stealTicks: Long = probe("RunEnv.stealTicks", -1L) {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines()
      .find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong)
      .getOrElse(throw new IllegalStateException("/proc/stat has no cpu steal field"))
    finally src.close()
  }

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory() / (1024L * 1024L)

  /** Non-default JVM flags that change measurement behavior (-Xmx is
    * already covered by heapMaxMb): code cache sizing, GC choice,
    * compiler mode. The add-opens boilerplate is elided for noise. */
  def jvmArgsFingerprint: String = probe("RunEnv.jvmArgsFingerprint", "") {
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-XX:") || a.startsWith("-Xint") || a.startsWith("-Xcomp"))
      .mkString(" ")
  }

  def gcNames: Seq[String] = probe("RunEnv.gcNames", Seq.empty[String]) {
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getName).toSeq
  }

  /** One entry of an artifact's `errors` array: a failure that the run
    * survived but must not hide, and the step it failed in, if named. */
  def errorJson(e: Throwable, source: String = ""): String =
    (if (source.nonEmpty) s"""{"source":${jstr(source)},""" else "{") +
      s""""class":${jstr(e.getClass.getName)},"message":${jstr(String.valueOf(e.getMessage))}}"""

  /** JIT/code-cache state at emit time, as one JSON object. The r13
    * driver bench regressed 28 queries 2-15x at local[32] with no plan
    * change — the prime suspect is JIT code-cache exhaustion (thousands
    * of retained codegen classes vs the default 240 MB
    * ReservedCodeCacheSize), which is invisible in an artifact that
    * only records heap. This makes every future bench self-describing
    * on that axis: per-CodeHeap used/max/peak (a peak at max means the
    * sweeper hit the wall and compilation was throttled or disabled),
    * metaspace used, cumulative JIT compilation ms, and the compiler
    * thread count in use with its origin (`ERGONOMIC` when the JVM sized
    * it from the CPU count, `VM_CREATION` when a flag pinned it). */
  def jitJson: String = probe("RunEnv.jitJson", "{}") {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Metaspace")
      .map { p =>
        val u = p.getUsage; val pk = p.getPeakUsage
        val key = p.getName.toLowerCase.replace("codeheap '", "").replace("'", "")
          .replace(" ", "_").replace("-", "_")
        s"""${jstr(key)}:{"used_mb":${u.getUsed / (1024 * 1024)},"peak_mb":${pk.getUsed / (1024 * 1024)},"max_mb":${if (u.getMax > 0) u.getMax / (1024 * 1024) else -1}}"""
      }
    val comp = java.lang.management.ManagementFactory.getCompilationMXBean
    val compMs = if (comp != null && comp.isCompilationTimeMonitoringSupported)
      comp.getTotalCompilationTime else -1L
    val threads = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption("CICompilerCount")
    (pools ++ Seq(s""""jit_compile_ms":$compMs""",
      s""""ci_compiler_count":${threads.getValue}""",
      s""""ci_compiler_count_origin":${jstr(threads.getOrigin.toString)}"""))
      .mkString("{", ",", "}")
  }

  /** One JSON object with the run config an artifact needs to be
    * self-describing. `cpus` is the local[] thread count the caller
    * resolved (env default included — the artifact records what RAN,
    * not what was set); `reps` likewise. `errors` holds every failure
    * recorded up to and including this call's own probes. */
  def json(cpus: String, reps: Int): String = {
    val sha = gitSha
    val fields = s"""{"sha":${jstr(if (sha.nonEmpty) sha else "unknown")},""" +
      s""""git_dirty":$gitDirty,"cpus":${jstr(cpus)},"reps":$reps,""" +
      s""""heap_max_mb":$heapMaxMb,""" +
      s""""gc":${gcNames.map(jstr).mkString("[", ",", "]")},""" +
      s""""java":${jstr(sys.props.getOrElse("java.version", ""))},""" +
      s""""jvm_args":${jstr(jvmArgsFingerprint)},""" +
      s""""conf_overlay":${jstr(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))},""" +
      s""""only":${jstr(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))},""" +
      s""""jit":$jitJson,""" +
      s""""loadavg":${jstr(loadavg)},"""
    fields + s""""errors":${errors.mkString("[", ",", "]")}}"""
  }
}
