package graft

import graft.plans.WindowAudit
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Catalog-wide pin of the no-single-task-window invariant
  * ([[graft.plans.WindowAudit]] holds the shared plan analysis): no
  * catalog query may plan a Window with EMPTY partitioning whose input
  * is unbounded table data — on a cluster that window serializes the
  * whole frame through one task.
  *
  * Materialized intermediates (LogicalRDD) are treated as bounded by
  * INDUCTION, not convention: `Graft.materialize` asserts the same
  * invariant on every plan it checkpoints (the only way catalog code
  * produces a LogicalRDD), so an unbounded global-window frame can
  * never enter the catalog through materialization — the second and
  * third tests here keep that enforcement point itself honest. */
class WindowInvariantSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("no catalog query windows over an unbounded unpartitioned frame") {
    val offenders = for {
      (name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)
      w <- WindowAudit.singleTaskWindows(q(spark, sf).queryExecution.optimizedPlan)
    } yield s"$name: global window over unbounded input\n${w.child.treeString.take(400)}"
    assert(offenders.isEmpty,
      s"single-task windows found (partition them or route through " +
        s"GlobalRank):\n${offenders.mkString("\n")}")
  }

  test("materialize refuses an unbounded unpartitioned window (the LogicalRDD hole)") {
    // Table data (unbounded) under a global running sum: exactly the
    // frame whose checkpoint would previously have re-entered the
    // catalog as an unauditable LogicalRDD.
    val t = Graft.table(spark, sf, "orders")
      .withColumn("run", sum(col("o_totalprice")).over(Window.orderBy("o_orderkey")))
    val e = intercept[IllegalStateException] { Graft.materialize(t) }
    assert(e.getMessage.contains("global window over unbounded input"))
  }

  test("non-key literal equality does not bound the frame (r10 false-negative class)") {
    // `status = 'F'` selects a CATEGORY of a fact table, not one key's
    // series — before r11 any literal-equality conjunct marked the
    // frame bounded and this single-task window sailed through the
    // production materialize assert.
    val t = Graft.table(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F")
      .withColumn("run", sum(col("o_totalprice")).over(Window.orderBy("o_orderkey")))
    val e = intercept[IllegalStateException] { Graft.materialize(t) }
    assert(e.getMessage.contains("global window over unbounded input"))
    // the DISK_ONLY flavor is the same enforcement point — a frame must
    // not dodge the audit by choosing the other storage level
    val e2 = intercept[IllegalStateException] { Graft.materializeDisk(t) }
    assert(e2.getMessage.contains("global window over unbounded input"))
  }

  test("materializeDisk round-trips rows identically to the heap flavor") {
    val src = Graft.table(spark, sf, "orders")
      .groupBy("o_orderstatus").agg(sum("o_totalprice").as("s"))
    val heap = Graft.materialize(src).collect().sortBy(_.getString(0))
    val disk = Graft.materializeDisk(src).collect().sortBy(_.getString(0))
    assert(heap.sameElements(disk))
    // drop the persist entry so no later suite's plan picks up an
    // InMemoryRelation for this subplan (suites share one session)
    spark.catalog.clearCache()
  }

  test("materialize accepts bounded global windows and audited sweep layouts") {
    // post-aggregate global window: frame bounded by group cardinality
    val agg = Graft.table(spark, sf, "orders")
      .groupBy("o_orderstatus").agg(sum("o_totalprice").as("s"))
      .withColumn("run", sum(col("s")).over(Window.orderBy("o_orderstatus")))
    assert(Graft.materialize(agg).count() > 0)
    // a frame ranked by GlobalRank's prefix-pass operator (no window at all)
    val ranked = graft.functions.GlobalRank.withRowNumber(
      Graft.table(spark, sf, "orders"), "rk", col("o_orderkey"))
    assert(ranked.filter(col("rk") === 1L).count() == 1)
    // key-equality-filtered series (one key's rows) under a global window
    val series = Graft.events(spark, sf)
      .filter(col("user_id") === 0L)
      .withColumn("run", sum(col("value")).over(Window.orderBy("ts")))
    assert(Graft.materialize(series).count() > 0)
  }
}
