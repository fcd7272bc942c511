package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.collection.immutable.ListMap

/** Distributed row numbers, ntiles and running totals: the scale-safe
  * replacements for `row_number`/`ntile`/`sum … over (order by …)` with
  * no partitioning, and for the same functions `over (partition by
  * group …)` when the group key has BOUNDED cardinality but each group
  * scales with data. Both window shapes move a whole frame, or a whole
  * group, through one task.
  *
  * All five functions build one [[PrefixPass]] plan node, planned inside
  * the query as [[PrefixPassExec]]. Invariants:
  *  - the sort key is a TOTAL order (include a unique tiebreaker): range
  *    partitioning keeps equal keys in one partition, but the order
  *    among ties, and so their ranks and running totals, is arbitrary;
  *  - building a frame launches no job; executing one pass runs one
  *    range exchange on the sort key, one job that sums each unsorted
  *    range partition (it collects one row of longs per partition), and
  *    one sort per partition, with no window operator and nothing
  *    pinned in memory or on disk;
  *  - each running total is the sum of the partitions before its row's
  *    partition plus the within-partition running sum, and the pass also
  *    yields each sum's grand total as a column (`withNtile`'s n).
  *
  * The group variants run the pass over `group ++ sort`, so each group
  * is one contiguous run of the global order. A group's offset is the
  * exclusive running total at its first (lowest-ranked) row: one row per
  * group, broadcast and joined back on a null-safe key, so a null group
  * key is a group of its own, as in `partition by`. */
object GlobalRank {

  /** `df` plus, for each `(c, out)` in `sums`, `out` = the inclusive
    * running total of the LongType `c` (nulls add 0) in global `sort`
    * order, and `__gr_tot<i>` = the grand total of the i-th `c`. */
  private def prefixPass(df: DataFrame, sums: Seq[(Column, String)],
      sort: Seq[Column]): DataFrame = {
    val Project(list, child) = df.select(sums.map(_._1): _*).queryExecution.analyzed
    val values = list.map { case Alias(e, _) => e; case e => e }
    values.zip(sums).foreach { case (v, (c, _)) =>
      require(v.dataType == LongType, s"GlobalRank sums LongType only: '$c' is ${v.dataType}")
      require(v.deterministic, s"GlobalRank sums deterministic columns only: '$c'")
    }
    val Sort(order, _, _, _) = df.sort(sort: _*).queryExecution.analyzed
    def attrs(names: Seq[String]) = names.map(AttributeReference(_, LongType, nullable = false)())
    GraftSqlBridge.ofRows(df.sparkSession, PrefixPass(values, order,
      attrs(sums.map(_._2)), attrs(totalCols(sums.size)), child))
  }

  private def totalCols(n: Int): Seq[String] = (0 until n).map(i => s"__gr_tot$i")

  /** `df` plus `rankCol` = 1-based global row number under `sort`. */
  def withRowNumber(df: DataFrame, rankCol: String, sort: Column*): DataFrame =
    prefixPass(df, Seq(lit(1L) -> rankCol), sort).drop(totalCols(1): _*)

  /** `df` plus, for each `(srcCol, outCol)` in `sums`, the running
    * total of `srcCol` (LongType, nulls as 0) in global `sort` order,
    * including the current row when `inclusive`, else the exclusive
    * prefix (0 at the first row): `sum(x) over (order by sort)`.
    * For sums, ties in `sort` only change values between tied rows. */
  def withPrefixSums(df: DataFrame, sums: Seq[(String, String)],
      inclusive: Boolean, sort: Column*): DataFrame = {
    require(sums.nonEmpty, "withPrefixSums needs at least one column")
    val cum = prefixPass(df, sums.map { case (s, o) => col(s) -> o }, sort)
      .drop(totalCols(sums.size): _*)
    if (inclusive) cum
    else cum.withColumns(ListMap(sums.map { case (s, o) =>
      o -> (col(o) - coalesce(col(s), lit(0L)))
    }: _*))
  }

  /** The group variants' one body: `groupCols`-partitioned running
    * totals of each `(c, out)` in `sums`. */
  private def groupPrefixSums(df: DataFrame, sums: Seq[(Column, String)],
      inclusive: Boolean, groupCols: Seq[String], sort: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "group ranking needs group columns")
    val tmp = sums.indices.map(i => s"__gr_sum$i")
    val keys = groupCols.indices.map(i => s"__gr_key$i")
    val offs = sums.indices.map(i => s"__gr_off$i")
    val cum = prefixPass(df, (lit(1L) -> "__gr_rank") +: sums.map(_._1).zip(tmp),
      groupCols.map(col) ++ sort).drop(totalCols(sums.size + 1): _*)
    val excl = sums.zip(tmp).map { case ((c, _), t) => col(t) - coalesce(c, lit(0L)) }
    val firstExcl = excl.zip(offs).map { case (e, o) => min_by(e, col("__gr_rank")).as(o) }
    val off = cum.groupBy(groupCols.zip(keys).map { case (g, k) => col(g).as(k) }: _*)
      .agg(firstExcl.head, firstExcl.tail: _*)
    val sameGroup = groupCols.zip(keys).map { case (g, k) => col(g) <=> col(k) }.reduce(_ && _)
    cum.join(broadcast(off), sameGroup)
      .withColumns(ListMap(sums.indices.map { i =>
        sums(i)._2 -> ((if (inclusive) col(tmp(i)) else excl(i)) - col(offs(i)))
      }: _*))
      .drop("__gr_rank" +: (tmp ++ keys ++ offs): _*)
  }

  /** `row_number() over (partition by groupCols order by sort)`, for
    * bounded-cardinality group keys (see the object doc); a partitioned
    * window stays the right tool when groups are many and small. */
  def withGroupRowNumber(df: DataFrame, rankCol: String,
      groupCols: Seq[String], sort: Column*): DataFrame =
    groupPrefixSums(df, Seq(lit(1L) -> rankCol), inclusive = true, groupCols, sort)

  /** Per-group [[withPrefixSums]]: `sum(x) over (partition by groupCols
    * order by sort)`, for bounded-cardinality group keys. */
  def withGroupPrefixSums(df: DataFrame, sums: Seq[(String, String)],
      inclusive: Boolean, groupCols: Seq[String], sort: Column*): DataFrame = {
    require(sums.nonEmpty, "withGroupPrefixSums needs at least one column")
    groupPrefixSums(df, sums.map { case (s, o) => col(s) -> o }, inclusive, groupCols, sort)
  }

  /** `df` plus `zoneCol` = `ntile(buckets)` under `sort`, from global
    * ranks with SQL ntile's arithmetic (the first n mod b buckets get
    * one extra row): `ntile(buckets) over (order by sort)`. */
  def withNtile(df: DataFrame, zoneCol: String, buckets: Int,
      sort: Column*): DataFrame = {
    require(buckets > 0, s"ntile needs buckets > 0, got $buckets")
    val base = expr(s"__gr_tot0 div $buckets")
    val rem = col("__gr_tot0") % buckets
    val cut = (base + 1) * rem
    prefixPass(df, Seq(lit(1L) -> "__gr_rank"), sort)
      .withColumn(zoneCol,
        when(col("__gr_rank") <= cut,
          floor((col("__gr_rank") - 1) / (base + 1)) + 1)
          .otherwise(
            rem + floor((col("__gr_rank") - 1 - cut) / greatest(base, lit(1L))) + 1)
          .cast("long"))
      .drop("__gr_rank" +: totalCols(1): _*)
  }
}
