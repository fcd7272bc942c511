package graft

import org.apache.spark.sql.functions._

/** Lifetime contract for [[Graft.materialize]]/[[Graft.materializeDisk]]
  * frames (r11 verdict "What's wrong" #2/#3): query-internal
  * materialization has no post-action hook, so the HARNESS bounds the
  * lifetime — [[Graft.releaseMaterialized]] must drop BOTH kinds of
  * retained state, and the harness entry points (Verify per query,
  * Bench and the probes per rep) all call it. Without this a
  * full-catalog sweep accumulates every persist(DISK_ONLY) frame until
  * session end, and bench reps after the first read a silently warm
  * columnar cache (the f18 8.2 s-vs-15.6 s artifact gap). */
class MaterializeLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def cacheManagerEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("releaseMaterialized drops persist(DISK_ONLY) entries AND checkpoint blocks") {
    // start clean so leftovers from earlier suites can't mask a leak
    Graft.releaseMaterialized(spark, blocking = true)
    assert(cacheManagerEmpty)

    // materializeDisk -> CacheManager entry, live after the action
    val disk = Graft.materializeDisk(
      Graft.table(spark, sf, "orders")
        .groupBy("o_orderstatus").agg(sum("o_totalprice").as("s")))
    assert(disk.count() > 0)
    assert(!cacheManagerEmpty,
      "materializeDisk must register a CacheManager entry (else reps can't warm-read it)")

    // materialize (localCheckpoint) -> a persistent RDD, NOT in the CacheManager
    val heap = Graft.materialize(
      Graft.table(spark, sf, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n")))
    assert(heap.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "localCheckpoint must register persistent RDD blocks (the state clearCache can't see)")

    Graft.releaseMaterialized(spark, blocking = true)
    assert(cacheManagerEmpty,
      "releaseMaterialized must empty the CacheManager (materializeDisk lifetime bound)")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseMaterialized must unpersist checkpoint RDDs (the r11 F18Ab arm-isolation bias)")

    // released frames must still be REUSABLE: recompute, not poisoned
    assert(disk.count() == Graft.table(spark, sf, "orders")
      .select("o_orderstatus").distinct().count())
  }

  test("a catalog query using materializeDisk leaves nothing retained after release") {
    Graft.releaseMaterialized(spark, blocking = true)
    // f18 is the one catalog adopter of materializeDisk (CohortQueries)
    val rows = SparkEntry.queries("f18_assoc_rules")(spark, sf).count()
    assert(rows > 0)
    assert(!cacheManagerEmpty, "f18 should have pinned its basket frame")
    Graft.releaseMaterialized(spark, blocking = true)
    assert(cacheManagerEmpty && spark.sparkContext.getPersistentRDDs.isEmpty,
      "post-release retained state must be zero after a full query execution")
  }
}
