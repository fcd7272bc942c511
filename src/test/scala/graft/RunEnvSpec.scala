package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the run-env fingerprint every bench/correctness artifact embeds
  * ([[RunEnv]], r10 verdict item 1): all fields present, and the sha is
  * genuinely HEAD at write time — not a stale or hardcoded value. The
  * fields exist so cross-round comparisons stop reverse-engineering the
  * run config from loadavg; a fingerprint that lies would be worse than
  * none. Also pins that failures are recorded, not swallowed: a failed
  * probe, a failed bench warm-up and a failed bench query. */
class RunEnvSpec extends SparkSpec {

  private val om = new ObjectMapper()

  test("env json carries sha/cpus/reps/heap/gc/java/loadavg, sha == HEAD") {
    val j = RunEnv.json(cpus = "32", reps = 3)
    // sha: 40-hex and identical to an independent rev-parse
    val sha = "\"sha\":\"([0-9a-f]{40})\"".r.findFirstMatchIn(j)
      .map(_.group(1)).getOrElse(fail(s"no 40-hex sha in $j"))
    val head = new String(new ProcessBuilder("git", "rev-parse", "HEAD")
      .start().getInputStream.readAllBytes()).trim
    assert(sha == head, s"artifact sha $sha != HEAD $head")
    assert(j.contains("\"git_dirty\":"), j)
    assert(j.contains("\"cpus\":\"32\""), j)
    assert(j.contains("\"reps\":3"), j)
    val heap = "\"heap_max_mb\":(\\d+)".r.findFirstMatchIn(j)
      .map(_.group(1).toLong).getOrElse(fail(s"no heap_max_mb in $j"))
    assert(heap > 0, s"heap_max_mb must be positive, got $heap")
    assert("\"gc\":\\[\"[^\"]+\"".r.findFirstIn(j).nonEmpty,
      s"gc list empty or missing in $j")
    assert("\"java\":\"[^\"]+\"".r.findFirstIn(j).nonEmpty, j)
    // loadavg: three comma-separated floats on this platform
    assert("\"loadavg\":\"[0-9.]+,[0-9.]+,[0-9.]+\"".r.findFirstIn(j).nonEmpty, j)
    // the fragment is itself valid JSON (it gets spliced into artifacts)
    val node = om.readTree(j)
    for (f <- Seq("sha", "git_dirty", "cpus", "reps", "heap_max_mb", "gc", "java",
        "loadavg", "jit", "jvm_args", "conf_overlay", "only"))
      assert(node.has(f), s"field $f missing after JSON parse")
    // jit telemetry: code-heap pools with used/peak/max plus cumulative
    // compile ms — the r13 local[32] regression was invisible without it
    val jit = node.get("jit")
    assert(jit.has("jit_compile_ms"), s"jit_compile_ms missing in $jit")
    val poolFields = jit.fieldNames()
    var sawCodeHeap = false
    while (poolFields.hasNext) {
      val n = poolFields.next()
      if (n.contains("nmethods") || n == "metaspace") {
        sawCodeHeap = true
        for (f <- Seq("used_mb", "peak_mb", "max_mb"))
          assert(jit.get(n).has(f), s"jit pool $n missing $f")
      }
    }
    assert(sawCodeHeap, s"no CodeHeap/Metaspace pool in jit telemetry: $jit")
  }

  test("jit json carries the compiler thread count in use and its origin") {
    val jit = om.readTree(RunEnv.json(cpus = "4", reps = 1)).get("jit")
    assert(jit.has("ci_compiler_count") && jit.get("ci_compiler_count").asInt() > 0, jit)
    val origin = Option(jit.get("ci_compiler_count_origin")).map(_.asText())
      .getOrElse(fail(s"ci_compiler_count_origin missing in $jit"))
    // build.sbt pins no count, so the JVM sizes the pool from the CPU
    // count unless the local A/B hook overrides flags
    if (!sys.env.contains("SPARK_GRAFT_JVM_OPTS"))
      assert(origin == "ERGONOMIC", s"compiler count pinned by a flag: $jit")
  }

  test("error entries are valid JSON holding the exception class and message") {
    val e = om.readTree(RunEnv.errorJson(new IllegalStateException("line 1\n\t\"q\" \\ x")))
    assert(e.get("class").asText() == "java.lang.IllegalStateException")
    assert(e.get("message").asText() == "line 1\n\t\"q\" \\ x")
  }

  test("bench warm-up: no errors on a clean run, the failure recorded otherwise") {
    assert(Bench.warmup(spark, "/root/testdata/sf0.001") == Seq.empty)
    val missing = java.nio.file.Files.createTempDirectory("graftwarmup").resolve("absent")
    val errors = Bench.warmup(spark, missing.toString)
    assert(errors.size == 1, errors)
    val e = om.readTree(errors.head)
    assert(e.get("class").asText().endsWith("AnalysisException"), e)
    assert(e.get("message").asText().contains("absent"), e)
  }

  test("a failed probe returns its fallback and lands in the env json's errors") {
    assert(RunEnv.sh("graft-no-such-command") == "")
    assert(RunEnv.probe("spec.probe", -1L)(throw new java.io.IOException("unreadable")) == -1L)
    val errors = om.readTree(RunEnv.json(cpus = "4", reps = 1)).get("errors")
    val entries = (0 until errors.size).map(errors.get)
    val probe = entries.find(_.get("source").asText() == "spec.probe")
      .getOrElse(fail(s"spec.probe missing from $errors"))
    assert(probe.get("class").asText() == "java.io.IOException")
    assert(probe.get("message").asText() == "unreadable")
    assert(entries.exists(_.get("source").asText() == "graft-no-such-command"), errors)
    // recorded once, however often the probe fails
    RunEnv.probe("spec.probe", -1L)(throw new java.io.IOException("unreadable"))
    assert(RunEnv.errors.count(_.contains("\"spec.probe\"")) == 1)
    // a fatal error is not a probe failure
    intercept[StackOverflowError](RunEnv.probe("spec.fatal", "")(throw new StackOverflowError()))
    assert(!RunEnv.errors.exists(_.contains("spec.fatal")))
  }

  test("bench: a failed query is recorded with its name; a fatal error stops the bench") {
    val (ok, none) = Bench.timeReps(spark, "spec_ok", reps = 2)(spark.range(10).toDF())
    assert(ok.size == 2 && none.isEmpty)
    val (ts, error) = Bench.timeReps(spark, "spec_missing", reps = 2)(
      spark.read.parquet("/nonexistent/graft/spec_missing.parquet"))
    assert(ts.isEmpty)
    val e = om.readTree(error.getOrElse(fail("no error entry for a failing query")))
    assert(e.get("source").asText() == "spec_missing")
    assert(e.get("class").asText().endsWith("AnalysisException"), e)
    intercept[InterruptedException](
      Bench.timeReps(spark, "spec_interrupted", reps = 1)(throw new InterruptedException("stop")))
  }
}
