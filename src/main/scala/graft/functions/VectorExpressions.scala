package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Catalyst expressions for the reference's vector primitives.
  *
  * Semantics mirror evilsocket/sum's oracle-visible record math
  * (reference: node/wrapper/record.go:74-168): data is stored as float32 but
  * all arithmetic is widened to float64; cosine returns 0.0 (not NaN) when
  * either magnitude is zero (record.go:97-103); the weighted Jaccard counts
  * `m11 = sum(a_i*b_i)` and `m10 = count(a_i + b_i == 1.0)` and returns
  * `m11 / (m11 + m10)`, 0.0 on a zero denominator (record.go:130-147).
  *
  * These are native expressions (with `doGenCode`) rather than Scala UDFs so
  * they stay inside whole-stage codegen: no boxing, no Row conversion, and
  * they compose freely in filters/projections that Catalyst can still
  * reorder and push down around them.
  */
object VectorExpressions {

  private[functions] def isVecType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _                                    => false
  }

  /** Java accessor for one element of an ArrayData of this element type. */
  private[functions] def getter(dt: DataType): String = dt match {
    case ArrayType(FloatType, _)  => "getFloat"
    case ArrayType(DoubleType, _) => "getDouble"
    case other => throw new IllegalStateException(s"not a vector type: $other")
  }

  private[functions] def read(a: ArrayData, dt: DataType, i: Int): Double =
    dt match {
      case ArrayType(FloatType, _)  => a.getFloat(i).toDouble
      case ArrayType(DoubleType, _) => a.getDouble(i)
      case other => throw new IllegalStateException(s"not a vector type: $other")
    }
}

/** Common type-checking for binary expressions over two numeric vectors. */
trait VectorBinaryExpression extends BinaryExpression {
  import VectorExpressions._

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVecType(left.dataType) && isVecType(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float>/array<double> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
}

/** Dot product of two vectors, accumulated in float64.
  *
  * Mismatched lengths use the common prefix (the reference assumes equal
  * dims; min() keeps the expression total instead of throwing mid-job).
  * Null elements contribute 0. Reference: node/wrapper/record.go:74-76.
  */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        s += VectorExpressions.read(a, left.dataType, i) *
          VectorExpressions.read(b, right.dataType, i)
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) =
      (VectorExpressions.getter(left.dataType), VectorExpressions.getter(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ((double) $a.$ga($i)) * ((double) $b.$gb($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2 norm: sqrt(v . v). Reference: node/wrapper/record.go:92-94. */
case class VectorMagnitude(child: Expression) extends UnaryExpression {
  import VectorExpressions._

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_magnitude"

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVecType(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double>, got ${child.dataType.catalogString}")

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = read(a, child.dataType, i)
        s += x * x
      }
      i += 1
    }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = getter(child.dataType)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      s"""
         |final int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    final double $x = (double) $a.$g($i);
         |    $s += $x * $x;
         |  }
         |}
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Cosine similarity with the reference's zero-denominator guard:
  * returns 0.0 — not NaN — when either vector has zero magnitude
  * (node/wrapper/record.go:97-103). One pass computes dot and both norms.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "graft_cosine"

  /** Positions where either side is null drop out of both vectors, so
    * [[VectorMath.cosine]] sees exactly the pairs the generated loop sums.
    */
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val xs = Array.newBuilder[Double]
    val ys = Array.newBuilder[Double]
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        xs += VectorExpressions.read(a, left.dataType, i)
        ys += VectorExpressions.read(b, right.dataType, i)
      }
      i += 1
    }
    VectorMath.cosine(xs.result(), ys.result())
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) =
      (VectorExpressions.getter(left.dataType), VectorExpressions.getter(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val den = ctx.freshName("den")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    final double $x = (double) $a.$ga($i);
         |    final double $y = (double) $b.$gb($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |}
         |final double $den = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The reference's weighted Jaccard score (intended for binary vectors):
  * `m11 = sum(a_i * b_i)`, `m10 = count(a_i + b_i == 1.0)`,
  * result `m11 / (m11 + m10)`, 0.0 when the denominator is zero.
  * Reference: node/wrapper/record.go:130-147.
  */
case class WeightedJaccard(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "graft_jaccard"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var m11 = 0.0
    var m10 = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = VectorExpressions.read(a, left.dataType, i)
        val y = VectorExpressions.read(b, right.dataType, i)
        m11 += x * y
        if (x + y == 1.0) m10 += 1.0
      }
      i += 1
    }
    val den = m11 + m10
    if (den == 0.0) 0.0 else m11 / den
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ga, gb) =
      (VectorExpressions.getter(left.dataType), VectorExpressions.getter(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m11 = ctx.freshName("m11")
      val m10 = ctx.freshName("m10")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val den = ctx.freshName("den")
      s"""
         |final int $n = Math.min($a.numElements(), $b.numElements());
         |double $m11 = 0.0, $m10 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    final double $x = (double) $a.$ga($i);
         |    final double $y = (double) $b.$gb($i);
         |    $m11 += $x * $y;
         |    if ($x + $y == 1.0) $m10 += 1.0;
         |  }
         |}
         |final double $den = $m11 + $m10;
         |${ev.value} = ($den == 0.0) ? 0.0 : $m11 / $den;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
