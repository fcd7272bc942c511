package perfbench

import graft.{Dashboard, Graft, RunEnv, SparkEntry}
import graft.align.Alignment
import graft.analytics.{CompareAssets, Similarity, Volatility}
import graft.clean.Cleaning
import graft.etl.EtlJob
import graft.ingest.{ChartJson, ChartSource, Connector}
import graft.io.{ApiJson, BarsIO, PdfReport}
import graft.ta.Technical
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's JVM side. `run.py` builds the inputs, launches this
  * with the engine's own fork flags, and checks what it writes.
  *
  * {{{
  * perfbench.Main catalog  <result.json> <trace 0|1> <dataDir> <checkDir> <seed> <passes> <q1,q2,...>
  * perfbench.Main pipeline <result.json> <trace 0|1> <payloads.tsv> <requests.tsv> <workDir> <warmup>
  * perfbench.Main oracle   <out.json>
  * }}}
  *
  * `catalog` and `pipeline` first build the session with
  * `Graft.envSession` and records when it was ready. With trace 0 no
  * listener is registered; with trace 1 every operation also gets the
  * layer metrics of [[Trace]].
  */
object Main {
  private val startNs = System.nanoTime()

  def main(args: Array[String]): Unit = args(0) match {
    case "oracle" =>
      Json.write(args(1), Map("queries" -> SparkEntry.queries.keys.toSeq.sorted,
        "oracle_sql" -> SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap))
    case mode =>
      val t0 = System.nanoTime()
      val spark = Graft.envSession()
      val ready = Map(
        "ready_epoch_s" -> java.time.Instant.now().toEpochMilli / 1e3,
        "ready_uptime_s" -> (System.nanoTime() - startNs) / 1e9,
        "session_s" -> (System.nanoTime() - t0) / 1e9)
      val steal0 = RunEnv.stealTicks
      val traced = args.length > 2 && args(2) == "1"
      val trace = if (traced) Some(Trace.install(spark)) else None
      val ops = new Ops(spark, trace)
      val extra: Map[String, Any] = try mode match {
        case "catalog" => catalog(spark, ops, args(3), args(4), args(5).toLong, args(6).toInt,
          args(7).split(",").toSeq.filter(_.nonEmpty))
        case "pipeline" => pipeline(spark, ops, args(3), args(4), args(5), args(6).toInt)
      } finally {
        trace.foreach(_.drain())
      }
      val steal1 = RunEnv.stealTicks
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      Json.write(args(1), ready ++ extra ++ Map(
        "ops" -> ops.records.toSeq,
        "timed_s" -> ops.timedS,
        "cpu_s" -> ops.cpuNs / 1e9,
        "rss_peak_mb" -> Trace.rssPeakMb,
        "jvm.code_cache_peak_mb" -> Trace.codeCachePeakMb,
        "jvm.heap_peak_mb" -> Trace.heapPeakMb,
        "env" -> Map(
          "sha" -> RunEnv.gitSha, "git_dirty" -> RunEnv.gitDirty, "cpus" -> cpus,
          "heap_max_mb" -> RunEnv.heapMaxMb, "jvm_args" -> RunEnv.jvmArgsFingerprint,
          "steal_s" -> (if (steal0 >= 0 && steal1 >= steal0) (steal1 - steal0) / 100.0 else -1.0),
          "loadavg" -> RunEnv.loadavg, "jit_ms" -> Trace.jitMs, "gc" -> RunEnv.gcNames,
          "conf_overlay" -> sys.env.getOrElse("SPARK_GRAFT_CONF", ""))))
      spark.stop()
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** catalog_small: a cold pass runs each query once in seed-shuffled
    * order and writes its result as parquet under `checkDir/cold` for
    * run.py's output check; a warm pass runs each query again into the
    * noop sink. Both are set-up, not timed: as JIT compilation goes on,
    * the first pass after the cold one spread about twice as much in
    * median latency over seeds as the next. Then `passes` timed passes,
    * each in a fresh seed-shuffled order, run every query into the noop
    * sink. A final untimed pass writes every result again under
    * `checkDir/check`, so a query that answers wrongly only once warm is
    * caught too. A blocking release of materialized frames follows every
    * query. */
  private def catalog(spark: SparkSession, ops: Ops, dataDir: String, checkDir: String,
      seed: Long, passes: Int, names: Seq[String]): Map[String, Any] = {
    val queries = SparkEntry.queries
    val rng = new scala.util.Random(seed)
    def pass(kind: String, timed: Boolean)(sink: (String, DataFrame) => Unit): Unit =
      rng.shuffle(names).foreach { name =>
        ops.run(name, kind, timed = timed) { layers =>
          val df = layers.time("operators.build_s")(queries(name)(spark, dataDir))
          if (ops.traced) layers.time("plans.plan_s")(df.queryExecution.executedPlan)
          sink(name, df)
        }
      }
    def toParquet(kind: String)(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$kind/$name")
    val w0 = System.nanoTime()
    pass("cold", timed = false)(toParquet("cold"))
    pass("warm", timed = false)((_, df) => noop(df))
    val warmupS = (System.nanoTime() - w0) / 1e9
    (1 to passes).foreach(_ => pass("query", timed = true)((_, df) => noop(df)))
    pass("check", timed = false)(toParquet("check"))
    Map("warmup_s" -> warmupS)
  }

  /** In-memory chart API over the generated payloads. */
  private final class MemorySource(payloads: Map[String, String]) extends ChartSource {
    def fetch(symbol: String, period1: Long, period2: Long): String = payloads(symbol)
  }

  private def readTsv(path: String): Seq[Array[String]] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toSeq

  /** reference_pipeline: set-up runs the cold write path (fetch → EtlJob
    * with its parquet and wide-CSV sinks), the dashboard's load of the
    * wide CSV, and the first `warmup` requests. Then one client issues the
    * remaining requests in order, timed. With tracing on, the layer probes
    * run after the loop. */
  private def pipeline(spark: SparkSession, ops: Ops, payloadsTsv: String, requestsTsv: String,
      workDir: String, warmup: Int): Map[String, Any] = {
    val w0 = System.nanoTime()
    val payloads = readTsv(payloadsTsv).map(a => a(0) -> a(1))
    val source = new MemorySource(payloads.toMap)
    val symbols = payloads.map(_._1)
    val csv = s"$workDir/wide_csv"
    var report: Option[EtlJob.Report] = None
    ops.run("etl", "etl", timed = false) { layers =>
      val fetched = layers.time("ingest.fetch_s")(
        Connector.fetchAll(spark, source, symbols, 0L, Long.MaxValue, minSuccess = symbols.size))
      report = Some(layers.time("etl.run_s")(
        EtlJob.runWithSinks(fetched.payloads, s"$workDir/bars_parquet", csv)))
    }
    // The dashboard server holds the dataset in memory between requests,
    // as the reference's app does. A checkpoint, not cache(): a cached
    // frame would share its CacheManager entry with Dashboard.run's own
    // read of the same CSV, which unpersists it after each refresh.
    var bars: DataFrame = null
    ops.run("load", "load", release = false, timed = false) { layers =>
      bars = layers.time("io.csv_read_s") { val b = Graft.materialize(BarsIO.readLong(spark, csv)); b.count(); b }
    }
    val requests = readTsv(requestsTsv)
    val responses = mutable.ArrayBuffer[Map[String, Any]]()
    def request(i: Int, timed: Boolean): Unit = {
      val Array(kind, a, b) = requests(i)
      val out = s"$workDir/refresh_$i"
      var body: String = null
      ops.run(s"$kind:$a:$b", kind, release = false, timed = timed) { layers =>
        if (kind == "similarity") {
          val r = layers.time("analytics.compare_s")(CompareAssets.compare(bars, a, b))
          body = layers.time("io.json_s")(ApiJson.similarity(a, b, r))
        } else {
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
          Dashboard.run(spark, csv, out, Some((a, b)))
        }
      }
      responses += Map("kind" -> kind, "a" -> a, "b" -> b,
        "body" -> body, "out_dir" -> (if (kind == "similarity") null else out))
    }
    (0 until warmup).foreach(request(_, timed = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    (warmup until requests.size).foreach(request(_, timed = true))
    val probes = if (ops.traced) layerProbes(spark, source, symbols, csv, s"$workDir/probe",
      requests.head(1), requests.head(2)) else Map.empty[String, Double]
    Map("warmup_s" -> warmupS, "report" -> report.map(r => Map("symbols" -> r.symbols, "calendar_days" -> r.calendarDays,
        "aligned_rows" -> r.alignedRows, "missing_close" -> r.missingClose, "anomalies" -> r.anomalies)),
      "csv_dir" -> csv, "responses" -> responses.toSeq, "probes" -> probes)
  }

  /** Times each public function the pipeline composes, on the same
    * inputs, after the timed loop. Each stage's input is cached first
    * (untimed), so a stage's time is its own work; lazy frames are forced
    * with the noop sink. Construction and planning of the probed frames
    * are summed into `operators.build_s` and `plans.plan_s`. */
  private def layerProbes(spark: SparkSession, source: ChartSource, symbols: Seq[String],
      csv: String, dir: String, symA: String, symB: String): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    def t[A](key: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally m(key) = m.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    def frame(key: String)(build: => DataFrame): DataFrame = {
      val df = t("operators.build_s")(build)
      t("plans.plan_s")(df.queryExecution.executedPlan)
      t(key)(noop(df))
      df
    }
    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val keys = Seq("symbol")
    val order = Seq(col("date"))
    try {
      val payloads = t("ingest.fetch_s")(
        Connector.fetchAll(spark, source, symbols, 0L, Long.MaxValue, minSuccess = symbols.size)).payloads
      val bars = cached(frame("ingest.parse_s")(ChartJson.parse(payloads)))
      val filled = cached(Cleaning.dropInvalid(
        frame("clean.ffill_s")(Cleaning.forwardFill(bars, "close", keys, order))))
      val aligned = cached(frame("align.calendar_s")(Alignment.alignToCalendar(filled)))
      t("io.parquet_write_s")(aligned.write.mode("overwrite").parquet(s"$dir/bars_parquet"))
      t("io.csv_write_s")(BarsIO.writeWideCsv(
        Alignment.pivotWide(aligned, symbols.sorted).withColumnRenamed("date", "Date"), s"$dir/wide_csv"))
      val read = cached(frame("io.csv_read_s")(BarsIO.readLong(spark, csv)))
      val priced = read.filter(col("close").isNotNull)
      val classified = cached(frame("analytics.vol_s")(Volatility.classify(
        Volatility.annualized(priced, col("close"), keys, order), Seq(col("symbol")))))
      val rets = priced.withColumn("ret", Technical.logReturnStrict(col("close"), keys, order))
        .filter(col("ret").isNotNull)
      val heat = cached(frame("analytics.heatmap_s")(Similarity.heatmap(
        Similarity.withPos(rets.select(col("symbol"), col("date"), col("ret").as("v")), keys, order),
        "symbol")))
      val sim = t("analytics.compare_s")(CompareAssets.compare(read, symA, symB))
      t("io.json_s") {
        ApiJson.symbols(read); ApiJson.risk(classified); ApiJson.heatmap(heat)
        ApiJson.similarity(symA, symB, sim)
      }
      t("io.pdf_s")(PdfReport.write(s"$dir/report.pdf", "Portfolio analytics report", csv,
        Seq(PdfReport.Section("Risk classification", classified.select("rank", "symbol", "vol", "risk_class")),
          PdfReport.Section("Correlations", heat))))
    } finally Graft.releaseMaterialized(spark, blocking = true)
    m.toMap
  }
}

/** Sub-timings an operation records about the layers it calls. */
final class Layers {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def time[A](key: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally values(key) = values.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** Runs and records the operations of one process; the timed ones make
  * up the timed phase. With `release`, a blocking
  * `Graft.releaseMaterialized` follows the operation and is part of it;
  * its own time is kept as `Graft.release_s`. Latency is the operation's
  * wall time; CPU is the process CPU over the same window, JIT and GC
  * threads included. */
final class Ops(spark: SparkSession, trace: Option[Trace]) {
  val records: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer()
  var timedS = 0.0
  var cpuNs = 0L
  def traced: Boolean = trace.isDefined

  def run(name: String, kind: String, release: Boolean = true, timed: Boolean = true)(
      body: Layers => Unit): Unit = {
    val id = s"op${records.size}"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val layers = new Layers
    val (cg0, jit0, gc0) = (Trace.codegenCompiles, Trace.jitMs, Trace.gcMs)
    val w0 = System.currentTimeMillis()
    val c0 = Trace.processCpuNs
    val t0 = System.nanoTime()
    val error = try { body(layers); null } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    val r0 = System.nanoTime()
    if (release) Graft.releaseMaterialized(spark, blocking = true)
    val releaseS = (System.nanoTime() - r0) / 1e9
    val latency = (System.nanoTime() - t0) / 1e9
    val cpu = Trace.processCpuNs - c0
    val w1 = System.currentTimeMillis()
    val (cg1, jit1, gc1) = (Trace.codegenCompiles, Trace.jitMs, Trace.gcMs)
    sc.clearJobGroup()
    if (timed) { timedS += latency; cpuNs += cpu }
    val base = Map[String, Any]("name" -> name, "kind" -> kind, "timed" -> timed, "latency_s" -> latency,
      "cpu_s" -> cpu / 1e9, "ok" -> (error == null), "error" -> error, "Graft.release_s" -> releaseS)
    records += (trace match {
      case None => base
      case Some(t) =>
        t.drain()
        base ++ layers.values ++ t.metrics(id, (w0, w1)) ++ Map(
          "codegen.compiles" -> (cg1 - cg0), "jvm.jit_ms" -> (jit1 - jit0),
          "jvm.gc_s" -> (gc1 - gc0) / 1e3, "plan_fingerprint" -> t.takeFingerprint())
    })
  }

}
