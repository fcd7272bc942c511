package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native form of the X4 kernel: lengths of maximal 1-runs in an int
  * array (the window-clipped streak counter, patterns.py:118-141).
  * Replaces the Scala UDF in the hot path — the loop inlines into
  * whole-stage codegen instead of paying a serialization round-trip per
  * window. Semantics identical to Patterns.runLengths (cross-checked in
  * PatternsSpec). */
case class RunLengths(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val tmp = new Array[Int](n)
    var cnt = 0
    var cur = 0
    var i = 0
    while (i < n) {
      if (arr.getInt(i) == 1) cur += 1
      else if (cur > 0) { tmp(cnt) = cur; cnt += 1; cur = 0 }
      i += 1
    }
    if (cur > 0) { tmp(cnt) = cur; cnt += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(tmp, cnt))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val tmp = ctx.freshName("tmp")
      val cnt = ctx.freshName("cnt")
      val cur = ctx.freshName("cur")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |int[] $tmp = new int[$n];
         |int $cnt = 0; int $cur = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getInt($i) == 1) { $cur++; }
         |  else if ($cur > 0) { $tmp[$cnt++] = $cur; $cur = 0; }
         |}
         |if ($cur > 0) { $tmp[$cnt++] = $cur; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($tmp, $cnt));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RunLengthsExpr {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  def run_lengths(a: Column): Column = column(RunLengths(expression(a)))
}
