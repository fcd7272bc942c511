package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared session + IO helpers for the graft engine.
  *
  * Scale posture: every knob here is chosen so the same code runs on
  * local[32] for tests and on a 1000-executor cluster unchanged — AQE
  * handles runtime re-planning (partition coalescing, skew-join splitting),
  * and shuffle partitions default to the local core count only when no
  * cluster manager overrides it.
  */
object Graft {

  /** One query of the engine: (session, sf-dir) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** Standard config applied to every entry-point session (Verify, Bench,
    * tests). ANSI off: the reference's semantics are permissive (nulls, 0.0
    * fallbacks — SURVEY.md §7.4.6), and the DuckDB oracle queries are written
    * to guard their own domains.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries ns timestamps, which Spark 4 otherwise refuses
    // (PARQUET_TYPE_ILLEGAL); as a long it keeps full ns precision — convert
    // with timestamp_micros(ts/1000) where a real timestamp is needed.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Scan-split sizing for THIS deployment's data scale. The defaults
    // (128 MB partitions, 4 MB per-file open cost) target HDFS-block-sized
    // files; the sandbox's tables are 10–125 MB in ≤8-file directories,
    // which the default packing collapses into 1–2 scan partitions — a
    // serialized parquet decode on a 32-thread host (measured: the sf1
    // events table, 18 MB across 8 files, scanned as ONE task). 8 MB
    // splits / 512 KB open cost restore scan parallelism at every sandbox
    // SF while keeping partitions far above per-task overhead. These are
    // runtime session confs, not code semantics: a 100 TB cluster
    // deployment reading block-sized files should keep the 128 MB
    // default — builders for such a deployment pass their own sizing
    // after configure() (builder config is last-write-wins).
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "524288")
    // Codegen class cache (static conf, default 100 entries). The r13
    // RepProbe localized a 4-30x per-rep CPU inflation on the complex
    // dedup queries (d10: identical final plan, identical row counts,
    // same 64-task stage burning 84-258 CPU-s in random reps vs ~4 s in
    // others, zero GC, host-throttle sentinel flat) to codegen-cache
    // thrash: one execution of a window+join-heavy query generates more
    // distinct codegen units (WSCG stages, projections, orderings,
    // predicates) than the 100-entry LRU holds, so re-execution misses,
    // Janino recompiles, and the fresh class runs INTERPRETED until C2
    // re-warms - the interpreted md5/levenshtein/window inner loops are
    // the 30x. At 4096 entries the same probe settles to flat ~3 s reps
    // after first-rep JIT. Executors at cluster scale hit the identical
    // cache in CodeGenerator.compile, so this is a 100 TB knob too, not
    // a bench cosmetic. Memory: entries are (source, compiled class)
    // pairs, ~tens of KB each - bounded well under the driver heap.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")

  /** One shared resolution of the measurement-session config for every
    * diagnostic/bench main (Bench, RepProbe, PlanDump, StageProbe):
    * `SPARK_GRAFT_CPUS` (default 4 — the bench convention, so a dumped
    * plan provably matches the plan the default bench runs) sets both
    * the local[] thread count and shuffle partitions, and
    * `SPARK_GRAFT_CONF` ("k=v;k2=v2", never set by the driver) overlays
    * session confs last-write-wins for config A/B without recompiling.
    * RunEnv embeds the overlay string in emitted artifacts, so an
    * A/B-configured run is self-describing. */
  def envSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var builder = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder = builder.config(k.trim, v.trim)
      })
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Local session for tests / ad-hoc mains. */
  def localSession(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString))
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
    * a codegen'd `when` chain — no extra scan or job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, unix_micros, when}
    val df = spark.read.parquet(s"$dir/$name.parquet")
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

  /** [[materialize]] for frames whose tens of millions of rows held as
    * deserialized heap checkpoint blocks turn into full-GC pressure on
    * every consumer pass: `persist(DISK_ONLY)` stores the frame as
    * COLUMNAR compressed batches on executor-local disk — zero heap
    * pinned, compact, column-pruned scans per consumer. The storage
    * FORMAT is what matters, not just the medium: a
    * `localCheckpoint(DISK_ONLY)` stores raw row-blob RDD blocks and
    * measured WORSE than the heap checkpoint on the same frame
    * (scale.F18Ab at sf10, bench/bench_sf10_f18_ab_r11.json, 5 reps
    * within one run: heap checkpoint 32.9 s median w/ 93 s full-GC
    * spike, row-blob disk checkpoint 48.1 s, columnar DISK_ONLY persist
    * 15.6 s flat, recompute-per-consumer 18.3 s).
    *
    * Lifecycle trade vs the checkpoint flavor: the CacheManager entry
    * lives until session end (query-internal code has no place to
    * unpersist), but DISK_ONLY pins no executor memory — the cost is
    * bounded local-disk space, the same resource the frame's shuffle
    * already budgets. Right for a handful of large multi-consumer
    * frames; the heap [[materialize]] stays the default for the
    * catalog's typical sub-GB intermediates (in-memory reads win
    * there, and t21 showed the per-frame trade must be measured, not
    * assumed). Same WindowAudit enforcement as [[materialize]]. */
  def materializeDisk(df: DataFrame): DataFrame = {
    graft.plans.WindowAudit.assertNoSingleTaskWindow(df, "Graft.materializeDisk")
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
  }

  /** Scoped release for every frame [[materialize]]/[[materializeDisk]]
    * pinned during one query execution — the lifetime policy for
    * query-internal materialization (query code has no post-action hook,
    * so the HARNESS frees between units of work):
    *
    *  - `clearCache()` drops CacheManager entries — the
    *    [[materializeDisk]] `persist(DISK_ONLY)` frames whose
    *    accumulate-until-session-end lifetime a full-catalog sweep would
    *    otherwise pay (and whose plan-matching cache reuse would hand
    *    bench reps after the first a silently warm read);
    *  - unpersisting every `getPersistentRDDs` entry drops the
    *    [[materialize]] localCheckpoint BLOCKS immediately instead of
    *    waiting on ContextCleaner GC — between-rep isolation for A/B
    *    harnesses (checkpoint RDDs register there; CacheManager never
    *    sees them).
    *
    * Called by Verify after each query dump, Bench between reps, and
    * F18Ab between arms/reps. Default non-blocking: async drops suffice
    * when correctness is the concern, because re-execution never reads
    * another invocation's checkpoint (only CacheManager entries
    * plan-match across invocations). Pass `blocking = true` where the
    * next measurement must start with the blocks actually GONE (A/B
    * arms whose heap pressure is the measured quantity — the r11
    * heapchk-arm bias). MaterializeLifecycleSpec pins the contract.
    *
    * ORDER MATTERS: the blocking unpersist sweep must run BEFORE
    * `clearCache()`. Spark's `clearCache()` is always fire-and-forget
    * (it passes blocking=false down to the cached columnar RDD) and it
    * synchronously DEREGISTERS that RDD from `getPersistentRDDs` — so
    * a clearCache-first release would leave the persist(DISK_ONLY)
    * block removal async even under blocking=true, bleeding removals
    * into the next timed rep (the exact bias the blocking flag
    * exists to prevent). Sweeping the registry first unpersists the
    * cached RDD with the honest flag; clearCache() then only drops the
    * CacheManager plan entries (its second unpersist of the same RDD
    * is a no-op). */
  def releaseMaterialized(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
  }
}
