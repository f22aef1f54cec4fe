package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/**
 * Codegen'd fixed-point log2 kernel behind [[graft.operators.TextLm.l2q16]]
 * — the r21 expression-tier pass (guide §1.2 step 2). The column form
 * computed e = length(bin(x)) − 1 (materializing a base-2 STRING per
 * evaluation), p2 = pow(2.0, e) (a transcendental call), and the mantissa
 * cell through a pmod/divide/cast chain plus an element_at on a 16-element
 * array literal — per scored gram/token at corpus scale (q178 evaluates it
 * 4× per gram position). This kernel is one static call: exponent from
 * numberOfLeadingZeros, mantissa by shift, table lookup from a shared
 * constant — the exact integer definition, so values are bit-identical to
 * the column form (and to [[graft.operators.TextLm.l2q16Long]]) on the
 * whole documented domain 1 ≤ x < 2^59 (pinned by Round21Spec), and to
 * the column form's x = 0 corner as well (both engines' element_at(−15)
 * wraps to the 2nd table entry → value 1). Negative input fails loud —
 * the column forms produced engine-DIVERGENT garbage there, so no green
 * query can be feeding it.
 */
object LmKernels {

  /** floor(16·log2(m/16)) for mantissa m = 16..31 — keep in lockstep with
    * [[graft.operators.TextLm]]'s table. */
  private val MantissaQ16: Array[Long] =
    Array(0L, 1L, 2L, 3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L, 12L, 13L, 14L, 15L)

  def l2q16(x: Long): Long = {
    if (x <= 0L) {
      require(x == 0L, s"l2q16 domain: $x")
      return 1L // column-form x = 0 corner: e = 0, element_at(table, −15) = 1
    }
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val m = ((x * 16) >>> e).toInt // 1 ≤ x < 2^59 ⇒ exactly floor(16x / 2^e)
    e.toLong * 16L + MantissaQ16(m - 16)
  }

  def l2q16(x: Column): Column =
    ExpressionUtils.column(L2Q16Kernel(ExpressionUtils.expression(x)))
}

/** long → long fixed-point 16·log2 (see [[LmKernels.l2q16]]). */
case class L2Q16Kernel(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    LmKernels.l2q16(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LmKernels.l2q16($c)")
  override protected def withNewChildInternal(newChild: Expression): L2Q16Kernel =
    copy(child = newChild)
}
