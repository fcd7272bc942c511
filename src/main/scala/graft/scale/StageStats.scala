package graft.scale

import org.apache.spark.{GraftCoreBridge, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage task statistics of the jobs run between two [[clear]]
  * calls: the one measurement listener of the probes. Every read and
  * every [[clear]] first drains the listener bus, so a read covers every
  * task that ended before it, with no sleep. A task's time is its
  * executor run time; a stage's median is the upper median
  * (`sorted(n / 2)`). A failed task is one that ended in an error, not
  * one killed by a cancelled job. */
final class StageStats private (sc: SparkContext) extends SparkListener {
  import StageStats.Stage

  private final class Acc {
    val runs = mutable.ArrayBuffer[Double]()
    var cpu, gc = 0.0
    var spill = 0L
    var failed = 0
    var scope = ""
    var attempts = 0
  }
  private val acc = mutable.Map[Int, Acc]()
  private val failureLines = mutable.ArrayBuffer[String]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc.getOrElseUpdate(e.stageId, new Acc)
    val m = e.taskMetrics
    a.runs += (if (m == null) 0.0 else m.executorRunTime / 1e3)
    if (m != null) {
      a.cpu += m.executorCpuTime / 1e9
      a.gc += m.jvmGCTime / 1e3
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (e.taskInfo.failed) a.failed += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = acc.getOrElseUpdate(info.stageId, new Acc)
    a.scope = info.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString("|")
    a.attempts += 1
    info.failureReason.foreach(r => failureLines += s"STAGEFAIL ${info.stageId}: ${r.take(120)}")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    e.jobResult match {
      case JobSucceeded => ()
      case r => failureLines += s"JOBEND ${e.jobId}: ${r.toString.take(160)}"
    }
  }

  /** Every stage with an ended task or a completed attempt, by id. */
  def stages: Seq[Stage] = {
    GraftCoreBridge.drainListenerBus(sc)
    synchronized {
      acc.toSeq.sortBy(_._1).map { case (id, a) =>
        val d = a.runs.sorted
        Stage(id, d.size, d.sum, a.cpu, a.gc, a.spill, a.failed,
          if (d.isEmpty) 0.0 else d(d.size / 2), d.lastOption.getOrElse(0.0),
          a.scope, a.attempts)
      }
    }
  }

  /** One line per failed stage attempt and per failed job. */
  def failures: Seq[String] = {
    GraftCoreBridge.drainListenerBus(sc)
    synchronized(failureLines.toSeq)
  }

  def clear(): Unit = {
    GraftCoreBridge.drainListenerBus(sc)
    synchronized { acc.clear(); failureLines.clear() }
  }
}

object StageStats {
  final case class Stage(id: Int, tasks: Int, runS: Double, cpuS: Double,
      gcS: Double, spillBytes: Long, failedTasks: Int, medianS: Double,
      maxS: Double, scope: String, attempts: Int) {
    /** max/median task time; 0 when the median is 0. */
    def ratio: Double = if (medianS > 0) maxS / medianS else 0.0
  }

  /** A new listener, registered on `sc`. */
  def attach(sc: SparkContext): StageStats = {
    val s = new StageStats(sc)
    sc.addSparkListener(s)
    s
  }
}
