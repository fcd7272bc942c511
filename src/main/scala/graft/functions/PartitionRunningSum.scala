package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** Within-partition running total of a LongType child (nulls add 0) —
  * the per-partition sequential half of a distributed prefix sum,
  * expressed as a stateful nondeterministic expression exactly like
  * Spark's own `MonotonicallyIncreasingID` (state reset per partition
  * via the partition-initialization hook — each task evaluates a
  * freshly-deserialized instance, so no state is shared across
  * concurrent tasks — codegen with a mutable accumulator term).
  * Projected above an already-sorted layout it
  * replaces the `mapPartitionsWithIndex` sweep GlobalRank used before
  * Spark 4 — keeping every row in the unsafe format and the whole
  * chain inside whole-stage codegen instead of paying a Row
  * conversion in each direction.
  *
  * Safety relies on two standard optimizer contracts for
  * nondeterministic expressions: filters are never pushed below a
  * projection containing one (`PushPredicateThroughNonJoin` requires a
  * deterministic project list), and `CollapseProject` never inlines a
  * nondeterministic output into multiple references — so the running
  * total sees exactly the rows of the sorted layout, exactly once. */
case class PartitionRunningSum(child: Expression)
    extends UnaryExpression with Nondeterministic {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  @transient private[this] var total: Long = _

  override def initializeInternal(partitionIndex: Int): Unit =
    total = 0L

  override def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) total += v.asInstanceOf[Long]
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sumTerm = ctx.addMutableState(CodeGenerator.JAVA_LONG, "partRunSum")
    ctx.addPartitionInitializationStatement(s"$sumTerm = 0L;")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        if (!${c.isNull}) { $sumTerm += ${c.value}; }
        final long ${ev.value} = $sumTerm;""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PartitionRunningSum {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}

  /** Running within-partition sum of `c` (must be LongType). */
  def running_sum(c: Column): Column = column(PartitionRunningSum(expression(c)))
}
