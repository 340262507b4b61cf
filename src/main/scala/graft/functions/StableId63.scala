package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's deterministic 63-bit
  * surrogate key (md5 hex prefix → unsigned int → mask; SURVEY.md §2.10,
  * /root/reference/etl/order_info_etl.py:56-65).
  *
  * Why an Expression instead of the composed built-ins in
  * [[CleanExprs.stableId]]: the built-in chain materializes a 32-char hex
  * string, slices it, and runs decimal arithmetic per row; this one digests
  * bytes straight to a long with zero intermediate allocation beyond the
  * digest, and participates in whole-stage codegen via a static call —
  * measurably cheaper on a 100 TB keying pass. Both are golden-tested
  * equal.
  */
case class StableId63(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"stable_id63 expects STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    StableId63.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StableId63.hash($c)")

  override protected def withNewChildInternal(c: Expression): StableId63 = copy(c)
  override def prettyName: String = "stable_id63"
}

object StableId63 {
  // one digest instance per task thread — getInstance per row is a
  // provider lookup + allocation on the keying hot path
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of md5 as unsigned 64-bit, masked to signed-63-bit —
    * identical to `int(md5(s).hexdigest()[:16], 16) & ((1<<63)-1)`. */
  def hash(s: UTF8String): Long = {
    val md = tlMd.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v & Long.MaxValue
  }

  /** Column API: drop-in, codegen'd replacement for CleanExprs.stableId's
    * final hashing step (callers build the pipe-joined key themselves). */
  def stableId63(c: Column): Column =
    ColumnBridge.column(StableId63(ColumnBridge.expr(c)))
}
