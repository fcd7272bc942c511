package graft

import graft.scale.StageStats
import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** [[StageStats]] read right after a job, with no sleep: exact task
  * counts, the per-stage median and max (checked against an independent
  * listener's record of the same tasks), failed tasks and failed jobs,
  * and `clear()` empties it. */
class StageStatsSpec extends SparkSpec {

  test("a job's stage stats are complete right after it returns") {
    val sc = spark.sparkContext
    val stats = StageStats.attach(sc)
    val runs = scala.collection.mutable.ArrayBuffer[Double]()
    val record = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = runs.synchronized {
        runs += e.taskMetrics.executorRunTime / 1e3
      }
    }
    try {
      stats.clear()
      sc.addSparkListener(record)
      // 6 tasks; task i sleeps 40·(i+1) ms
      sc.parallelize(0 until 6, 6).foreach(i => Thread.sleep(40L * (i + 1)))
      val Seq(s) = stats.stages
      GraftCoreBridge.drainListenerBus(sc)
      sc.removeSparkListener(record)
      val sorted = runs.synchronized(runs.sorted.toSeq)
      assert(s.tasks == 6 && s.failedTasks == 0 && s.attempts == 1, s)
      assert(sorted.size == 6)
      assert(s.medianS == sorted(3) && s.maxS == sorted(5), s"$s vs $sorted")
      assert(s.medianS >= 0.16 && s.maxS >= 0.24, s)
      assert(s.ratio == s.maxS / s.medianS)
      assert(s.spillBytes == 0L, s)
      assert(stats.failures.isEmpty)

      stats.clear()
      assert(stats.stages.isEmpty && stats.failures.isEmpty)

      intercept[org.apache.spark.SparkException] {
        sc.parallelize(0 until 4, 4).foreach(i => require(i != 2, "boom"))
      }
      assert(stats.stages.map(_.failedTasks).sum == 1, stats.stages)
      assert(stats.failures.exists(_.startsWith("JOBEND")), stats.failures)

      stats.clear()
      assert(stats.stages.isEmpty && stats.failures.isEmpty)
    } finally {
      sc.removeSparkListener(record)
      sc.removeSparkListener(stats)
    }
  }
}
