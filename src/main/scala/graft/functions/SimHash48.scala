package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-document SimHash as ONE codegen'd scalar pass:
  * `simhash48(text)` ≡ tokenize → distinct tokens → 48-bit md5 token hash
  * → per-bit ±1 sign sums → signature, all inside the expression.
  *
  * The declarative formulation (explode tokens, distinct, 48 conditional
  * SUMs in a hash aggregate — DedupReference in the specs)
  * shuffles every (doc, token-hash) pair and keeps a 48-column aggregation
  * buffer per doc. This expression keeps the whole computation narrow: a
  * 100 TB corpus signature pass is a scan with zero exchanges, and the
  * shuffle that remains in near-dup detection carries only (doc, 8-byte
  * signature).
  *
  * Exact semantic contract (shared with the DuckDB oracle and the
  * declarative spec): tokens = split(trim-spaces(text), "\s+") with
  * trailing empties kept; DISTINCT token set; hash = first 12 md5 hex
  * chars as an unsigned 48-bit value; bit j of the signature is 1 iff
  * sum over distinct tokens of (bit j of hash ? +1 : -1) >= 0.
  */
case class SimHash48(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash48 expects STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    SimHash48.sig48(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash48.sig48($c)")

  override protected def withNewChildInternal(c: Expression): SimHash48 = copy(c)
  override def prettyName: String = "simhash48"
}

object SimHash48 {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  val Bits = 48

  /** Kernel deliberately NOT named `eval`: the companion class inherits
    * `Expression.eval(InternalRow)`, and scalac skips emitting a static
    * forwarder for any companion method whose name collides with an
    * inherited class member — generated code then fails to compile and
    * the whole stage silently falls back to interpreted execution. */
  def sig48(text: UTF8String): Long = {
    // Spark's trim() strips 0x20 only — match it (same as ShingleHash32)
    var s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)
    val toks = ws.split(s, -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val md = tlMd.get()
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 12 hex chars == first 6 digest bytes, unsigned 48-bit
        val hv = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        var j = 0
        while (j < Bits) {
          if (((hv >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < Bits) {
      if (counts(j) >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def simhash48(c: Column): Column =
    ColumnBridge.column(SimHash48(ColumnBridge.expr(c)))
}
