package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** string → long: the portable 60-bit md5 value
  * ([[graft.core.Hashing.md5Long]]), NULL in gives NULL out. Byte-identical
  * to `conv(substring(md5(x),1,15),16,10).cast("long")` without that
  * chain's hex, substring and base-10 strings per row. */
case class Md5Long(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    graft.core.Hashing.md5Long(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Hashing.md5Long($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
}
