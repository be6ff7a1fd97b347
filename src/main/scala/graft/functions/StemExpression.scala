package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Porter2 stemming (reference op F8,
  * `Week5_datingNLP.R:84`). A real `Expression` with `doGenCode` — not
  * a Scala UDF — so it stays inside whole-stage codegen, costs one
  * static call per row, and propagates nulls like a builtin.
  */
case class StemExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "stem"

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Porter2.stem(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Porter2.stem($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): StemExpression =
    copy(child = newChild)
}
