package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
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
  * All five functions run one prefix pass ([[prefixPass]]), which holds:
  *  - the sort key is a TOTAL order (include a unique tiebreaker): range
  *    partitioning keeps equal keys in one partition, but the order
  *    among ties, and so their ranks and running totals, is arbitrary;
  *  - the input is range-repartitioned and sorted within partitions on
  *    that key once, and that layout is materialized once; the totals
  *    collect and the running sums both read the checkpoint;
  *  - the one collect is metadata-sized: one row of per-column totals
  *    per non-empty partition;
  *  - each running total is `offset(partition) + PartitionRunningSum`,
  *    one codegen'd projection over the sorted layout, with no window
  *    operator and no second shuffle or sort.
  *
  * The group variants run the pass over `group ++ sort`, so each group
  * is one contiguous run of the global order. A group's offset is the
  * exclusive running total at its first (lowest-ranked) row: one row per
  * group, broadcast and joined back on a null-safe key, so a null group
  * key is a group of its own, as in `partition by`. */
object GlobalRank {

  /** `df` in range-sorted `sort` order plus, for each `(c, out)` in
    * `sums`, `out` = the inclusive running total of the LongType `c`
    * (nulls add 0); and the grand total of each `c`. */
  private def prefixPass(df: DataFrame, sums: Seq[(Column, String)],
      sort: Seq[Column]): (DataFrame, Seq[Long]) = {
    df.select(sums.map(_._1): _*).schema.zip(sums).foreach { case (f, (c, _)) =>
      require(f.dataType == LongType, s"GlobalRank sums LongType only: '$c' is ${f.dataType}")
    }
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val sorted = graft.Graft.materialize(
      df.repartitionByRange(parts, sort: _*).sortWithinPartitions(sort: _*))
    val sumCols = sums.map(s => sum(s._1))
    val totals = sorted.groupBy(spark_partition_id())
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()
      .map(r => r.getInt(0) ->
        sums.indices.map(i => if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
      .toMap
    // Exclusive scan over every partition of the layout: the range
    // shuffle leaves trailing partitions empty when the key has fewer
    // distinct values than partitions.
    val pids = 0 until sorted.rdd.getNumPartitions
    val starts = pids.scanLeft(sums.map(_ => 0L)) { (acc, p) =>
      totals.get(p).fold(acc)(acc.zip(_).map { case (a, t) => a + t })
    }
    val out = sorted.withColumns(ListMap(sums.zipWithIndex.map { case ((c, name), i) =>
      name -> (element_at(typedlit(pids.map(starts(_)(i))), spark_partition_id() + 1)
        + PartitionRunningSum.running_sum(c))
    }: _*))
    (out, starts.last)
  }

  /** `df` plus `rankCol` = 1-based global row number under `sort`. */
  def withRowNumber(df: DataFrame, rankCol: String, sort: Column*): DataFrame =
    prefixPass(df, Seq(lit(1L) -> rankCol), sort)._1

  /** `df` plus, for each `(srcCol, outCol)` in `sums`, the running
    * total of `srcCol` (LongType, nulls as 0) in global `sort` order,
    * including the current row when `inclusive`, else the exclusive
    * prefix (0 at the first row): `sum(x) over (order by sort)`.
    * For sums, ties in `sort` only change values between tied rows. */
  def withPrefixSums(df: DataFrame, sums: Seq[(String, String)],
      inclusive: Boolean, sort: Column*): DataFrame = {
    require(sums.nonEmpty, "withPrefixSums needs at least one column")
    val cum = prefixPass(df, sums.map { case (s, o) => col(s) -> o }, sort)._1
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
      groupCols.map(col) ++ sort)._1
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
    val (ranks, Seq(n)) = prefixPass(df, Seq(lit(1L) -> "__gr_rank"), sort)
    val base = n / buckets
    val rem = n % buckets
    val cut = (base + 1) * rem
    ranks.withColumn(zoneCol,
        when(col("__gr_rank") <= cut,
          floor((col("__gr_rank") - 1) / (base + 1)) + 1)
          .otherwise(
            lit(rem) + floor((col("__gr_rank") - 1 - cut) / math.max(base, 1L)) + 1)
          .cast("long"))
      .drop("__gr_rank")
  }
}
