package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session of the engine comes from `Graft.envSession`: it is the
  * only `SparkSession.builder(` in src/main, and `Graft.scala` is the
  * only reader of `SPARK_GRAFT_CPUS`. The test fixture, built there,
  * carries the standard config. */
class SessionSpec extends SparkSpec {

  private def occurrences(needle: String): Seq[(String, Int)] = {
    val files = Files.walk(Paths.get("src/main"))
    try files.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => p.getFileName.toString ->
        (Files.readString(p).split(java.util.regex.Pattern.quote(needle), -1).length - 1))
      .filter(_._2 > 0)
    finally files.close()
  }

  test("one SparkSession.builder( and one SPARK_GRAFT_CPUS read in src/main, both in Graft.scala") {
    assert(occurrences("SparkSession.builder(") == Seq("Graft.scala" -> 1))
    assert(occurrences("\"SPARK_GRAFT_CPUS\"") == Seq("Graft.scala" -> 1))
  }

  test("the fixture session carries the standard config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.catalog.functionExists("cosine_sim"), "GraftExtensions not loaded")
  }
}
