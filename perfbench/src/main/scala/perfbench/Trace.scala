package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Layer metrics taken from outside the engine. Every operation runs under
  * its own Spark job group; a SparkListener sums task, scan, shuffle and
  * spill metrics per group, and a QueryExecutionListener collects the
  * executed plans. Listener events arrive asynchronously: the traced run
  * calls [[drain]] after each operation, so the plans collected since the
  * previous drain are that operation's. */
final class Trace extends SparkListener with QueryExecutionListener {
  final class Group {
    var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
    var taskRunMs = 0L; var taskCpuNs = 0L
    var scanBytes = 0L; var scanRows = 0L
    var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var fetchWaitMs = 0L
    var spillDiskBytes = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val stageSkews = mutable.ArrayBuffer[Double]()
  }

  private val groups = mutable.HashMap[String, Group]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val plans = mutable.ArrayBuffer[String]()
  private var openJobs = 0
  private var lastEventNs = System.nanoTime()

  private def group(id: String): Group = groups.getOrElseUpdate(id, new Group)
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val id = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = id
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = id)
    openJobs += 1
    group(id).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    openJobs -= 1
    val id = jobGroup.getOrElse(e.jobId, "")
    group(id).jobSpans += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val g = group(stageGroup.getOrElse(e.stageId, ""))
    g.tasks += 1
    if (e.reason != org.apache.spark.Success) g.failedTasks += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      g.taskRunMs += m.executorRunTime
      g.taskCpuNs += m.executorCpuTime
      g.scanBytes += m.inputMetrics.bytesRead
      g.scanRows += m.inputMetrics.recordsRead
      g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      g.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      g.spillDiskBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val g = group(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    g.stages += 1
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
      val s = ms.sorted
      val med = s(s.size / 2)
      if (s.size >= 2 && med > 0) g.stageSkews += s.last.toDouble / med
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    touch()
    plans += Trace.normalize(qe.executedPlan.treeString(verbose = false))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Waits until every started job has ended and no event arrived for
    * `quietMs`, or `maxMs` passed. */
  def drain(quietMs: Long = 100, maxMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def settled = synchronized(openJobs <= 0 && System.nanoTime() - lastEventNs > quietMs * 1000000L)
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Hash of the plans executed since the previous call, or null. */
  def takeFingerprint(): String = synchronized {
    val fp = if (plans.isEmpty) null else Trace.sha(plans.mkString("\n--\n"))
    plans.clear()
    fp
  }

  /** Listener metrics of one job group; `window` is the operation's
    * (start, end) wall clock in epoch ms. */
  def metrics(id: String, window: (Long, Long)): Map[String, Any] = synchronized {
    val g = groups.getOrElse(id, new Group)
    val (w0, w1) = window
    val covered = Trace.unionMs(g.jobSpans.map { case (a, b) => (a.max(w0), b.min(w1)) }.filter(s => s._2 > s._1).toSeq)
    Map(
      "exec.jobs" -> g.jobs, "exec.stages" -> g.stages, "exec.tasks" -> g.tasks,
      "exec.task_run_s" -> g.taskRunMs / 1e3, "exec.task_cpu_s" -> g.taskCpuNs / 1e9,
      "exec.stage_skews" -> g.stageSkews.toSeq,
      "exec.driver_gap_s" -> ((w1 - w0) - covered).max(0L) / 1e3,
      "exec.failed_tasks" -> g.failedTasks,
      "scan.bytes" -> g.scanBytes, "scan.rows" -> g.scanRows,
      "shuffle.write_bytes" -> g.shuffleWriteBytes, "shuffle.read_bytes" -> g.shuffleReadBytes,
      "shuffle.fetch_wait_s" -> g.fetchWaitMs / 1e3, "spill.disk_bytes" -> g.spillDiskBytes)
  }
}

object Trace {
  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Plan text without expression ids, lambda-variable counters, JVM
    * lambda class names, plan ids, object hashes and file paths, so equal
    * plans hash equal across runs and checkouts. */
  def normalize(plan: String): String =
    plan.replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("(file:)?/[^\\s,\\]\\)]+", "<path>")
      .replaceAll("lambda ([A-Za-z]+)_\\d+", "lambda $1")
      .replaceAll("#\\d+", "")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("@[0-9a-f]{4,}", "")

  def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Janino compiles so far (Spark's codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def poolPeakMb(keep: java.lang.management.MemoryPoolMXBean => Boolean): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(keep)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def codeCachePeakMb: Double = poolPeakMb(_.getName.startsWith("CodeHeap"))

  /** Sum of the heap pools' peaks: an upper bound on the heap's peak. */
  def heapPeakMb: Double = poolPeakMb(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set of this process (VmHWM), MB. */
  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
