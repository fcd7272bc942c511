package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared session + IO helpers for the graft engine.
  *
  * Scale posture: every knob here is chosen so the same code runs on
  * local[4] for tests and on a 1000-executor cluster unchanged — AQE
  * handles runtime re-planning (partition coalescing, skew-join splitting),
  * and shuffle partitions default to the local core count only when no
  * cluster manager overrides it.
  */
object Graft {

  /** One query of the engine: (session, sf-dir) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** Standard config of every session. ANSI off: the reference's
    * semantics are permissive (nulls, 0.0 fallbacks — SURVEY.md §7.4.6),
    * and the DuckDB oracle queries guard their own domains. */
  private val standardConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // events.parquet carries ns timestamps, which Spark 4 otherwise refuses
    // (PARQUET_TYPE_ILLEGAL); as a long it keeps full ns precision — convert
    // with timestamp_micros(ts/1000) where a real timestamp is needed.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Scan splits sized for tables of 10–125 MB in <= 8 files: every table
    // scans as several tasks instead of the 1–2 the HDFS-block defaults
    // (128 MB / 4 MB open cost) pack it into, and each split stays far
    // above per-task overhead (SCALE_r05.md). A deployment reading
    // block-sized files passes its own sizing as `conf` or
    // `SPARK_GRAFT_CONF`.
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "524288",
    // The codegen class cache (static conf, default 100) holds every
    // generated unit of one execution of the catalog's largest queries,
    // so a re-execution hits the cache instead of recompiling and
    // running interpreted until the JIT warms again. Entries are tens
    // of KB each (measurements in OPTIMIZATION_r13.md and _r14.md).
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.ui.enabled" -> "false")

  /** The local[] thread count and shuffle-partition count of every
    * session: `SPARK_GRAFT_CPUS`, default 4. Artifacts record this value
    * (`RunEnv.json`), so they say what ran. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The one session builder of the engine: every main, the test fixture
    * and the benchmark build their session here. Config applies in this
    * order, later writes winning: the standard config, then
    * `local[cpus]` and `cpus` shuffle partitions, then the caller's
    * `conf` pairs, then the `SPARK_GRAFT_CONF` overlay ("k=v;k2=v2",
    * for config A/B without recompiling; `RunEnv` records it in every
    * artifact). With no `conf`, a dumped plan, a probe and the bench
    * run the same config. */
  def envSession(conf: (String, String)*): SparkSession = {
    val overlay = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k.trim -> v.trim }
    val settings = standardConf ++ Seq("spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus) ++ conf ++ overlay
    val s = settings.foldLeft(SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load one driver-generated parquet table from an sf directory.
    *
    * `events.ts` is normalized to the engine's canonical ns-long time
    * axis regardless of how the generator wrote it: ns-precision
    * parquet timestamps arrive as longs already (via `nanosAsLong`),
    * while us-precision ones arrive as TIMESTAMP(_NTZ) and are
    * converted here (session TZ is pinned to UTC, so the NTZ→LTZ cast
    * is the identity and matches DuckDB's `epoch_us(ts)` reading of
    * the same file). Every operator downstream can then assume ts is
    * epoch-ns, and the oracle SQL stays timestamp-native.
    *
    * The long branch does NOT trust the physical type alone (the
    * generator already drifted ns→us once): a magnitude guard keys off
    * the value. Epoch seconds/ms/us/ns for any plausible data window
    * (1973–2100) sit three orders of magnitude apart, so ≥1e17 is
    * unambiguously ns (kept), 1e14–1e17 is unambiguously us (scaled
    * ×1000), 1e12–1e14 is the epoch-ms band — a unit this engine does
    * not accept — and raises per-row instead of silently mis-scaling
    * every time-based query by 1000×. Values below 1e12 pass through
    * unchanged: they cannot be a misread real epoch (epoch-ms starts
    * at ~1.6e12 for the 2020s) and are exactly the small
    * relative/synthetic time axes the spec fixtures use. The guard is
    * a codegen'd `when` chain — no extra scan or job.
    *
    * The parquet schema is inferred (one Spark job) once per session and
    * path, then supplied to the read: the registry keys each entry on
    * (session, path) and stores it with the path's listing (file names,
    * sizes, mtimes), so a table rewritten under the same path is inferred
    * again. Entries hold their session weakly and go with it. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, unix_micros, when}
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events" && df.schema.fieldNames.contains("ts")) {
      if (df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      else
        df.withColumn("ts",
          when(col("ts") >= lit(100000000000000000L), col("ts"))      // ≥1e17: epoch-ns
            .when(col("ts") >= lit(100000000000000L), col("ts") * lit(1000L)) // ≥1e14: epoch-us
            .when(col("ts") >= lit(1000000000000L), raise_error(concat( // 1e12–1e14: epoch-ms
              lit("events.ts long looks like epoch-ms, an unsupported unit: "),
              col("ts").cast("string"))).cast("long"))
            .otherwise(col("ts")))                                     // <1e12: relative axis
    } else df
  }

  private val schemas = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, (Seq[(String, Long, Long)], StructType)]]

  /** [[table]]'s read: the schema from the registry, inferred on a miss.
    * A path that cannot be listed reads as before, so it fails as before. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p))
      .toOption.fold(spark.read.parquet(path)) { files =>
        val listing = files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .toSeq.sorted
        val entries = schemas.synchronized(
          schemas.computeIfAbsent(spark, _ => scala.collection.concurrent.TrieMap.empty))
        val schema = entries.get(path).collect { case (`listing`, s) => s }.getOrElse {
          val s = spark.read.parquet(path).schema
          entries.put(path, listing -> s)
          s
        }
        spark.read.schema(schema).parquet(path)
      }
  }

  /** The events table projected as a time series: user_id = series key,
    * ts (ns-long) = time axis, value = price. */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").select("event_id", "user_id", "ts", "value")

  /** us-precision timestamp from an events frame's time axis, whatever
    * physical type `ts` arrived as (ns-long from [[table]]'s canonical
    * form, or a raw parquet TIMESTAMP(_NTZ) on paths that bypass it,
    * e.g. a file-stream source reading the generator's parquet
    * directly). */
  def tsMicros(df: DataFrame): org.apache.spark.sql.Column =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
    else
      org.apache.spark.sql.functions.col("ts").cast("timestamp")

  private val disjointIdsVerified =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Boolean]

  /** Runtime guard for the derived dedup corpora's fixed doc_id offsets
    * (+100000 exact-dup twin, +200000 near-dup twin). The offsets are
    * collision-free for every shipped corpus and every ScaleData replica
    * stride (10 M per replica), but nothing enforced that — and because
    * the Spark query and its DuckDB oracle SHARE the offset, a collision
    * on some future larger corpus would corrupt both sides identically
    * and pass the gate silently. This asserts the shifted ids are
    * disjoint from the real ids: an id-column-only semi-join count,
    * memoized per (session, corpus-dir, label) so a full gate run pays
    * it once per corpus, and it fails LOUDLY where the fixed offset is
    * unsafe. */
  def assertDisjointIds(base: DataFrame, derived: DataFrame,
      dir: String, what: String): Unit = {
    val spark = base.sparkSession
    val key = (System.identityHashCode(spark).toString, dir, what)
    disjointIdsVerified.getOrElseUpdate(key, {
      import org.apache.spark.sql.functions.{count, countDistinct, lit}
      val clash = derived.select("doc_id")
        .join(base.select("doc_id"), Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"$what: derived doc_ids collide with real doc_ids in $dir — " +
          "the fixed derivation offset is unsafe for this corpus layout")
      // The twin offset sets must also be disjoint from EACH OTHER:
      // +100000 and +200000 twins collide when the corpus id span
      // exceeds the offset gap (d and d+100000 both %5==0) — a
      // duplicate doc_id that corrupts Spark and the DuckDB oracle
      // identically, exactly the silent class this guard exists for.
      val dups = derived.agg(
        count(lit(1)).as("n"), countDistinct("doc_id").as("d")).head()
      require(dups.getLong(0) == dups.getLong(1),
        s"$what: derived doc_ids collide with each other in $dir " +
          s"(${dups.getLong(0)} rows, ${dups.getLong(1)} distinct) — " +
          "the offset twin sets overlap for this corpus layout")
      true
    })
  }

  /** Materialize an intermediate frame that feeds multiple branches of
    * ONE query. Lazy localCheckpoint, deliberately not cache():
    * cache() pins blocks in the CacheManager until an explicit
    * unpersist that query-internal code has no place to issue, while
    * checkpoint blocks are GC-reclaimed with the plan. The trade: the
    * truncated lineage means losing an executor that holds blocks
    * fails the job (Spark resubmits it) instead of recomputing the
    * lost partitions. That is the right trade for bounded intra-query
    * reuse; a frame SHARED across queries or held long-lived should
    * instead cache() and unpersist in a try/finally at the call site
    * (see Dashboard.run).
    *
    * Every plan materialized here is audited against the
    * no-single-task-window invariant first ([[plans.WindowAudit]]): a
    * checkpoint erases lineage into an opaque LogicalRDD, so this is
    * the last point where a single-task global window in the producing
    * plan is still visible to analysis — asserting here is what lets
    * the catalog-wide sweep treat LogicalRDD inputs as bounded by
    * induction instead of by convention. The audit costs one tree walk;
    * the optimized plan it reads is computed by the lazy checkpoint's
    * own planning anyway. */
  def materialize(df: DataFrame): DataFrame = {
    graft.plans.WindowAudit.assertNoSingleTaskWindow(df, "Graft.materialize")
    df.localCheckpoint(false)
  }

  /** [[materialize]] for large multi-consumer frames (tens of millions
    * of rows) whose heap checkpoint blocks would turn into full-GC
    * pressure: `persist(DISK_ONLY)` stores the frame as columnar
    * compressed batches on executor-local disk, so it pins no heap and
    * each consumer scans only its columns. The storage format is the
    * point, not the medium: a row-blob `localCheckpoint(DISK_ONLY)` is
    * slower than the heap checkpoint (SCALE_r11.md,
    * `bench/bench_sf10_f18_ab_r11.json`).
    *
    * The CacheManager entry lives until [[releaseMaterialized]] or
    * session end, bounded by local disk, the resource the frame's
    * shuffle already uses. The heap [[materialize]] stays the default
    * for sub-GB intermediates, where in-memory reads win. Same
    * WindowAudit enforcement as [[materialize]]. */
  def materializeDisk(df: DataFrame): DataFrame = {
    graft.plans.WindowAudit.assertNoSingleTaskWindow(df, "Graft.materializeDisk")
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  /** Frees every frame [[materialize]]/[[materializeDisk]] pinned in
    * this session. Query code has no post-action hook, so the harness
    * calls this between units of work (Verify after each dump, Bench and
    * the probes between reps):
    *
    *  - every `getPersistentRDDs` entry is unpersisted: the checkpoint
    *    blocks of [[materialize]] (which the CacheManager never sees) and
    *    the cached RDDs of [[materializeDisk]];
    *  - `clearCache()` then drops the CacheManager plan entries, so no
    *    later execution plan-matches a frame of an earlier one.
    *
    * Non-blocking by default: re-execution never reads another
    * invocation's checkpoint, so async drops keep results correct.
    * `blocking = true` returns only after the blocks are gone; a timed
    * rep that follows must not share its workers with the removals.
    * The sweep runs before `clearCache()` because `clearCache()` always
    * unpersists asynchronously and deregisters the RDD, which would make
    * a blocking release async. MaterializeLifecycleSpec pins the
    * contract. */
  def releaseMaterialized(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
  }
}
