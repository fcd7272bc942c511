package graft

import java.nio.charset.StandardCharsets.UTF_8

/** The DuckDB oracle gate inside the test run: every catalog query is
  * dumped over sf0.001 with the suite's session (`Verify.dump`), then
  * `scripts/oracle_check.py` compares each dump with its oracle SQL.
  * A missing python3, duckdb or pyarrow fails the test: the gate is
  * part of the suite, not optional. */
class OracleParitySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("every catalog query matches its DuckDB oracle at sf0.001") {
    val out = java.nio.file.Files.createTempDirectory("oracle-parity")
    try {
      Verify.dump(spark, sf, out.toString)
      val script = new java.io.File("scripts/oracle_check.py")
      assert(script.isFile, s"${script.getAbsolutePath} not found")
      val proc =
        try new ProcessBuilder("python3", script.getPath, sf, out.toString)
          .redirectErrorStream(true).start()
        catch { case e: java.io.IOException => fail(s"python3 did not start: $e") }
      val log = new String(proc.getInputStream.readAllBytes(), UTF_8)
      val exit = proc.waitFor()
      val tail = log.linesIterator.toSeq.takeRight(40).mkString("\n")
      val Summary = """(\d+) pass, \d+ rows-only, (\d+) fail, (\d+) missing.*""".r
      val counts = log.linesIterator.collectFirst {
        case Summary(p, f, m) => (p.toInt, f.toInt, m.toInt)
      }
      assert(exit == 0 && counts.isDefined, s"oracle_check exit $exit:\n$tail")
      val (pass, failed, missing) = counts.get
      assert(failed == 0 && missing == 0, tail)
      assert(pass == SparkEntry.oracleSql.size && pass >= 246,
        s"$pass pass of ${SparkEntry.oracleSql.size} oracles:\n$tail")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
