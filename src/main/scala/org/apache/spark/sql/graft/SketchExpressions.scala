package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Strips the [[graft.functions.SketchPayload]] version envelope from
  * a binary sketch column through `SketchPayload.unwrap` (a newer
  * version fails, an unversioned payload passes with its one-time
  * warning naming `where`). A native expression so a sketch read or
  * merge stays one Catalyst program with Spark's own sketch
  * functions. */
case class UnwrapSketchPayload(child: Expression, where: String)
    extends UnaryExpression with ImplicitCastInputTypes
    with Serializable {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "unwrap_sketch_payload"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.SketchPayload.unwrap(v.asInstanceOf[Array[Byte]], where)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SketchPayload
         .unwrap($c, "$where");""")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object SketchExpressions {
  /** Column wrapper for [[UnwrapSketchPayload]]. */
  def unwrap(payload: Column, where: String): Column =
    ExpressionUtils.column(UnwrapSketchPayload(
      ExpressionUtils.expression(payload), where))
}
