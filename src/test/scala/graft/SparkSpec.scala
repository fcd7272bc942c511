package graft

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
}
