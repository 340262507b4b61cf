package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed word-shingles as a single codegen'd pass:
  * `shingle_hash32(text, n)` ≡
  * `transform(shingles(text, n), s -> conv(substring(md5(s),1,8),16,10))`
  * but ~20× faster — the higher-order-function formulation falls out of
  * whole-stage codegen and interprets split+concat+md5 per element
  * (measured 8.5s vs 0.7s for the plain token explode at sf0.1).
  *
  * Exact semantic contract (shared with the DuckDB oracle):
  * tokens = split(trim-spaces(text), "\s+") with trailing empties kept
  * (Spark split limit -1); windows of n tokens joined by one space; hash =
  * first 8 md5 hex chars as an unsigned 32-bit value widened to long.
  * Fewer than n tokens → empty array (docs drop out on explode).
  */
case class ShingleHash32(child: Expression, n: Int, nBytes: Int = 4) extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")
  require(nBytes >= 1 && nBytes <= 7, "hash width must be 1-7 bytes (fits a signed long)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hash32 expects STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    ShingleHash32.hashShingles(v.asInstanceOf[UTF8String], n, nBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHash32.hashShingles($c, $n, $nBytes)")

  override protected def withNewChildInternal(c: Expression): ShingleHash32 = copy(c)
  override def prettyName: String = "shingle_hash32"
}

object ShingleHash32 {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def hashShingles(text: UTF8String, n: Int): GenericArrayData =
    hashShingles(text, n, 4)

  /** nBytes = leading md5 bytes kept (== 2×nBytes hex chars), unsigned,
    * widened to long: 4 → the 32-bit contract above; 6 → a 48-bit hash for
    * simhash signatures, where every pigeonhole band must carry entropy. */
  def hashShingles(text: UTF8String, n: Int, nBytes: Int): GenericArrayData = {
    // Spark's trim() strips 0x20 only — match it, not Java's String.trim
    var s = text.toString
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    s = s.substring(lo, hi)
    val toks = ws.split(s, -1) // limit -1: trailing empties kept, like Spark split
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val md = tlMd.get()
    md.reset()
    val out = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 2×nBytes hex chars == first nBytes digest bytes, unsigned
      var h = 0L
      var k = 0
      while (k < nBytes) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  def shingleHash32(c: Column, n: Int): Column =
    ColumnBridge.column(ShingleHash32(ColumnBridge.expr(c), n))

  def shingleHash32(c: Column, n: Int, nBytes: Int): Column =
    ColumnBridge.column(ShingleHash32(ColumnBridge.expr(c), n, nBytes))
}
