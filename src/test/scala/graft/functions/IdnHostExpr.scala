package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[IdnHost.fold]] as a standalone codegen'd scalar (`idn_host`): the
  * composed URL references ([[UrlExprsReference]]) and the codegen
  * regression spec call it as a Column; main folds hosts inside
  * [[UrlCanonExpr]]'s single pass instead. */
case class IdnHostExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"idn_host expects STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    IdnHost.fold(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IdnHost.fold($c)")

  override protected def withNewChildInternal(c: Expression): IdnHostExpr = copy(c)
  override def prettyName: String = "idn_host"
}

object IdnHostExpr {
  def idnHost(c: Column): Column =
    ColumnBridge.column(IdnHostExpr(ColumnBridge.expr(c)))
}
