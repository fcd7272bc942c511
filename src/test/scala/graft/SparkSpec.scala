package graft

import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (they run in one forked
  * JVM), built like every other session but pinned at 4 cores, so tests
  * run the same on any host. */
object SparkTest {
  lazy val spark: SparkSession = Graft.envSession(
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.spark

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean = math.abs(a - b) <= eps

  /** `f`'s result, the Spark jobs it started and the SQL executions
    * those jobs ran for, counted under a job group of its own once the
    * listener bus has drained. */
  def jobs[A](f: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    var n = 0
    val executions = scala.collection.mutable.Set.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          n += 1
          Option(p.getProperty("spark.sql.execution.id")).foreach(executions += _)
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = f
      GraftCoreBridge.drainListenerBus(sc)
      listener.synchronized((out, n, executions.size))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
