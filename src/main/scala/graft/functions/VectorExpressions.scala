package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd vector kernels (custom Catalyst Expressions).
  *
  * Catalyst's higher-order functions (zip_with + aggregate) evaluate
  * their lambda interpreted, once per element — two orders of magnitude
  * slower than a fused loop for 64-float embeddings. These expressions
  * generate a tight Java loop inside whole-stage codegen instead, so
  * vector similarity stays in the compiled hot path.
  *
  * Semantics: elements are read as float-or-double per the child array
  * type and folded left-to-right in double (bit-identical to the HOF
  * formulation they replace); null arrays → null; arrays of unequal
  * length → null (zip_with pads the shorter array with nulls, so the
  * HOF form also yields null there); array elements are assumed
  * non-null (embedding columns).
  */
abstract class VectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // Unequal-length inputs yield null even when both children are
  // non-nullable, so the result is always nullable.
  override def nullable: Boolean = true

  protected def elemJava(arr: String, child: Expression, i: String): String =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }

  protected def elemScala(arr: ArrayData, child: Expression, i: Int): Double =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
}

/** dot(a, b) = Σ aᵢ·bᵢ; null when |a| ≠ |b|. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += elemScala(a, left, i) * elemScala(b, right, i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${elemJava(a, left, i)} * ${elemJava(b, right, i)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(‖a‖·‖b‖); 0.0 on zero norm (engine edge rule);
  * null when |a| ≠ |b|. */
case class CosineSim(left: Expression, right: Expression) extends VectorFold {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elemScala(a, left, i)
      val y = elemScala(b, right, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = ${elemJava(a, left, i)};
         |    double $y = ${elemJava(b, right, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |    : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** All LSH sign bits of a vector against a fixed plane matrix, packed
  * into an array of longs — one fused codegen loop per row.
  *
  * `groupSizes(g)` consecutive planes fill output word g LSB-first
  * (bit b set iff dot(vec, plane) > 0), so one expression yields both
  * the per-band bucket codes (groups of `bitsPerBand`) and a wide
  * Hamming-signature (groups of 64) in a single pass over the vector.
  *
  * The planes ride along as a codegen REFERENCE OBJECT, not as literal
  * array expressions: an adaptive banding needs thousands of planes,
  * and thousands of 64-element array literals would blow Catalyst's
  * expression tree (and the 64 KB codegen method limit) — a `double[][]`
  * reference keeps the generated code one tight loop regardless of
  * plane count. The row's vector is copied to a local double[] once, so
  * the inner dot loop is pure primitive-array math.
  *
  * Semantics: null vector → null; a plane whose length ≠ the vector's
  * contributes bit 0 (matching `when(dot(v, plane) > 0, …)` over a
  * null dot in the literal-plane formulation). */
case class SignBitsPacked(child: Expression, planes: Array[Array[Double]],
    groupSizes: Array[Int]) extends UnaryExpression {
  require(groupSizes.forall(g => g >= 1 && g <= 64), "group sizes must be in [1, 64]")
  require(groupSizes.sum == planes.length,
    s"groups cover ${groupSizes.sum} planes, got ${planes.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemAt(arr: ArrayData, i: Int): Double =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val vn = a.numElements()
    val v = new Array[Double](vn)
    var i = 0
    while (i < vn) { v(i) = elemAt(a, i); i += 1 }
    val out = new Array[Long](groupSizes.length)
    var pi = 0
    var g = 0
    while (g < groupSizes.length) {
      var w = 0L
      var b = 0
      while (b < groupSizes(g)) {
        val pl = planes(pi)
        if (pl.length == vn) {
          var s = 0.0
          var j = 0
          while (j < vn) { s += pl(j) * v(j); j += 1 }
          if (s > 0.0) w |= 1L << b
        }
        pi += 1
        b += 1
      }
      out(g) = w
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val gRef = ctx.addReferenceObj("groupSizes", groupSizes, "int[]")
    val elemJava = child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => (arr: String, i: String) => s"(double) $arr.getFloat($i)"
      case DoubleType => (arr: String, i: String) => s"$arr.getDouble($i)"
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }
    nullSafeCodeGen(ctx, ev, a => {
      val vn = ctx.freshName("vn")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      val pi = ctx.freshName("pi")
      val g = ctx.freshName("g")
      val w = ctx.freshName("w")
      val b = ctx.freshName("b")
      val pl = ctx.freshName("pl")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |int $vn = $a.numElements();
         |double[] $v = new double[$vn];
         |for (int $i = 0; $i < $vn; $i++) { $v[$i] = ${elemJava(a, i)}; }
         |long[] $out = new long[$gRef.length];
         |int $pi = 0;
         |for (int $g = 0; $g < $gRef.length; $g++) {
         |  long $w = 0L;
         |  for (int $b = 0; $b < $gRef[$g]; $b++, $pi++) {
         |    double[] $pl = $pRef[$pi];
         |    if ($pl.length == $vn) {
         |      double $s = 0.0;
         |      for (int $j = 0; $j < $vn; $j++) { $s += $pl[$j] * $v[$j]; }
         |      if ($s > 0.0) $w |= (1L << $b);
         |    }
         |  }
         |  $out[$g] = $w;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SignBitsPacked =
    copy(child = newChild)
}

/** Hamming distance between two packed bit signatures (array<long>):
  * Σ bitCount(aᵢ ^ bᵢ); null when lengths differ. */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var h = 0L
    var i = 0
    while (i < n) { h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $h = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $h += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
         |  }
         |  ${ev.value} = $h;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  def dot_native(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))
  def cosine_native(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))
  def sign_bits_packed(v: Column, planes: Array[Array[Double]],
      groupSizes: Array[Int]): Column =
    column(SignBitsPacked(expression(v), planes, groupSizes))
  def hamming_native(a: Column, b: Column): Column =
    column(HammingDistance(expression(a), expression(b)))
}
