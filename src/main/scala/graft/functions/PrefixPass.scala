package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}

/** `child` plus, for each LongType `sums(i)`, `running(i)` = its
  * inclusive running total in global `order` (nulls add 0) and
  * `totals(i)` = its grand total. The logical half of
  * [[GlobalRank]]'s prefix pass; a filter above it never moves below
  * it (`PushPredicateThroughNonJoin` knows no such node). */
case class PrefixPass(sums: Seq[Expression], order: Seq[SortOrder],
    running: Seq[Attribute], totals: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ running ++ totals
  override def producedAttributes: AttributeSet = AttributeSet(running ++ totals)
  override protected def withNewChildInternal(c: LogicalPlan): PrefixPass = copy(child = c)
}

/** [[PrefixPass]] over a child range-partitioned on `order`
  * (`EnsureRequirements` places the exchange): one job sums each
  * unsorted partition, then each partition is sorted once and scanned
  * from its offset, the sum of the partitions before it. */
case class PrefixPassExec(sums: Seq[Expression], order: Seq[SortOrder],
    running: Seq[Attribute], totals: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ running ++ totals
  override def producedAttributes: AttributeSet = AttributeSet(running ++ totals)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override protected def withNewChildInternal(c: SparkPlan): PrefixPassExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (values, in, k) = (sums, child.output, sums.length)
    /** Adds each row's non-null `values` to `acc`, per row. */
    def scan(rows: Iterator[InternalRow], acc: Array[Long]): Iterator[InternalRow] = {
      val v = UnsafeProjection.create(values, in)
      rows.map { r =>
        val s = v(r)
        var i = 0
        while (i < k) { if (!s.isNullAt(i)) acc(i) += s.getLong(i); i += 1 }
        r
      }
    }
    val parts = child.execute().mapPartitions { rows =>
      val acc = new Array[Long](k); scan(rows, acc).foreach(_ => ()); Iterator.single(acc)
    }.collect()
    val offsets = parts.scanLeft(new Array[Long](k))((a, t) => a.zip(t).map(p => p._1 + p._2))
    val grand = offsets.last
    val types = output.map(_.dataType).toArray
    SortExec(order, global = false, child).execute().mapPartitionsWithIndex { (p, rows) =>
      val acc = offsets(p).clone()
      val extra = new GenericInternalRow((grand ++ grand).map(t => t: Any))
      val (joined, out) = (new JoinedRow, UnsafeProjection.create(types))
      scan(rows, acc).map { r =>
        var i = 0
        while (i < k) { extra.setLong(i, acc(i)); i += 1 }
        out(joined(r, extra))
      }
    }
  }
}

/** Plans [[PrefixPass]]; `GraftExtensions` injects it into every session. */
object PrefixPassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixPass(s, o, r, t, child) => PrefixPassExec(s, o, r, t, planLater(child)) :: Nil
    case _ => Nil
  }
}
