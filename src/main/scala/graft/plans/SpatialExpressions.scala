package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._

/** Space-filling-curve keys for multi-dimensional at-rest clustering
  * ([[graft.operators.Scale.zOrderKey]] is the Morton sibling, built from
  * builtin bitwise expressions). The Hilbert transform is a 16-round
  * state machine — rotate/reflect per bit plane — whose column-expression
  * unrolling would blow up the expression TREE exponentially (each
  * round's x/y reference the previous round's ~4 times), so unlike
  * Morton's linear spread ladder it is implemented as a codegen
  * `Expression` over a shared static kernel: one static call per row,
  * inside whole-stage codegen, no boxing.
  *
  * Why bother next to Morton: Hilbert's rotations remove Morton's long
  * diagonal jumps (every curve step is a unit grid step), so consecutive
  * key ranges are tighter rectangles and file min/max envelopes cover
  * less dead area — measurably better skipping on 2-D box predicates
  * (docs/PLANS.md, section "b60/b61 — SCD2 + z-order clustering key",
  * holds both curves' measured skip rates).
  */
object SpatialExpressions {

  /** The standard Hilbert xy→d walk on the 2^16 × 2^16 grid (Hamilton's
    * formulation of the Butz algorithm): per bit plane s = 2^15 … 1, the
    * quadrant index (3·rx)⊕ry advances d by s², then the frame is
    * reflected (rx=1 in the ry=0 half) and transposed for the next
    * plane. Shared verbatim by interpreted eval and generated code, and
    * mirrored step-for-step by the b92 oracle's CTE ladder — pure
    * integer ops, bit-identical on any engine. */
  def hilbertD(xIn: Long, yIn: Long): Long = {
    var x = xIn & 0xFFFFL
    var y = yIn & 0xFFFFL
    var d = 0L
    var s = 32768L
    while (s > 0L) {
      val rx = if ((x & s) > 0L) 1L else 0L
      val ry = if ((y & s) > 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1L - x
          y = s - 1L - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert curve key of two integral columns' low 16 bits — LongType
    * in [0, 2^32). Null if either input is null (BinaryExpression's
    * null-intolerant default, matching the builtin bitwise ops
    * zOrderKey is made of). */
  case class HilbertKey(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType) = dt match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hilbert_key needs integral inputs, got ${left.dataType} / ${right.dataType}")
    }

    private def asLong(e: Expression, v: String): String = e.dataType match {
      case LongType => v
      case _ => s"(long) $v"
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a match { case l: Long => l; case i: Int => i.toLong
        case s: Short => s.toLong; case bb: Byte => bb.toLong }
      val y = b match { case l: Long => l; case i: Int => i.toLong
        case s: Short => s.toLong; case bb: Byte => bb.toLong }
      SpatialExpressions.hilbertD(x, y)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.plans.SpatialExpressions.hilbertD(" +
          s"${asLong(left, a)}, ${asLong(right, b)});")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HilbertKey =
      copy(left = newLeft, right = newRight)
  }

  def hilbertKey(x: Column, y: Column): Column =
    ColumnGlue.column(HilbertKey(
      ColumnGlue.expression(x), ColumnGlue.expression(y)))
}
