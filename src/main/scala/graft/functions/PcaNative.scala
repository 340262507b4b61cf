package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native FP20 PCA kernels (r19) — codegen'd replacements for the
  * per-row higher-order-function chains in [[graft.operators.Pca]]
  * (transform/zip_with/aggregate are CodegenFallback: the lambda is
  * interpreted PER ELEMENT, and the power loop pays that on every one
  * of its r·iters corpus scans — the dominant per-row term at scale;
  * OPTIMIZATION_r19.md §9 measures the factor on a scale-shaped corpus).
  *
  * The arithmetic is the SAME integer-exact FP20 protocol, transcribed
  * step for step (every value is a long; no floating accumulation, so
  * equivalence is exact equality, not FP-order luck):
  *
  *  - encode: floor(x·2²⁰) with Spark's floor(double)→long semantics
  *    ((long) Math.floor(x): NaN → 0, ±Inf saturates);
  *  - center/deflate/dot/scale: long subtract/multiply/add mirroring
  *    the composed chain's ANSI expressions — Math.*Exact, so an
  *    out-of-envelope input still fails loudly (java.lang.Arithmetic-
  *    Exception vs Spark's SparkArithmeticException; the envelope
  *    itself is documented at [[graft.operators.Pca]]);
  *  - divFp: (m − m % 2²⁰) / 2²⁰ through an IEEE double division then
  *    truncation, exactly the composed column's `/` + cast long.
  *
  * NULL/shape contract mirrors the composed chains' zip_with padding:
  * a vector whose length differs from the mean's, or one containing a
  * null element, poisons every downstream value — the kernels return
  * the same all-null arrays the staged chain produces. A NULL vector
  * returns NULL (transform(null) is null). PcaNativeEquivalenceSpec
  * holds kernels and composed chains identical THROUGH SPARK over
  * adversarial shapes and random in-envelope vectors; the composed
  * chains stay in [[graft.operators.Pca]] as the executable spec. */
object PcaNative {

  val Fp = 1048576L

  /** floor(x·2²⁰) per element, null elements preserved. */
  def fp20(v: Column): Column =
    ColumnBridge.column(Fp20Encode(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType)))))

  /** One power-method iteration's per-row vector contribution:
    * center, deflate through `dirs`, s = (cx·w) DIV 2²⁰, out_j =
    * cx_j·s DIV 2²⁰. */
  def powerStep(v: Column, mean: Array[Long], dirs: Seq[Array[Long]],
                w: Array[Long]): Column =
    ColumnBridge.column(PcaPowerStep(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))),
      mean.clone(), dirs.map(_.clone()), w.clone()))

  /** Residual-projection coordinates [p_1 … p_r] (deflating between
    * components), optionally prefixed by the row's exact squared norm
    * Σ cx_j² (the varianceExplained shape). */
  def coords(v: Column, mean: Array[Long], dirs: Seq[Array[Long]],
             withRss: Boolean): Column =
    ColumnBridge.column(PcaCoords(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))),
      mean.clone(), dirs.map(_.clone()), withRss))

  /** Spark floor(double)→long: (long) Math.floor(x). */
  private def floorFp(x: Double): Long = math.floor(x * 1048576.0).toLong

  /** The composed `((m − m % Fp) / Fp).cast("long")`: `%` has the
    * dividend's sign (Java semantics), `/` is Spark's true (double)
    * division, the cast truncates toward zero — exact below 2⁵³ and
    * bit-faithful to the column form above it. */
  def divFp(m: Long): Long = ((m - m % Fp).toDouble / 1048576.0).toLong

  /** Centered+deflated FP20 row, or null when the composed zip_with
    * padding would poison the chain (length mismatch / null element). */
  private def centerDeflate(v: ArrayData, mean: Array[Long],
                            dirs: Array[Array[Long]]): Array[Long] = {
    val dim = mean.length
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val cx = new Array[Long](dim)
    i = 0
    while (i < dim) {
      cx(i) = math.subtractExact(floorFp(v.getDouble(i)), mean(i))
      i += 1
    }
    var d = 0
    while (d < dirs.length) {
      val dir = dirs(d)
      val s = divFp(dotExact(cx, dir))
      var j = 0
      while (j < dim) {
        cx(j) = math.subtractExact(cx(j), divFp(math.multiplyExact(dir(j), s)))
        j += 1
      }
      d += 1
    }
    cx
  }

  /** Ordered exact fold Σ a_i·b_i from 0L (the composed aggregate). */
  private def dotExact(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) {
      acc = math.addExact(acc, math.multiplyExact(a(i), b(i)))
      i += 1
    }
    acc
  }

  def evalFp20(v: ArrayData): GenericArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) out(i) = floorFp(v.getDouble(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def evalPowerStep(v: ArrayData, mean: Array[Long],
                    dirs: Array[Array[Long]],
                    w: Array[Long]): GenericArrayData = {
    // poisoned rows keep the composed output LENGTH: zip_with pads to
    // max(|v|, dim), and every later per-element op preserves length
    val outLen = math.max(v.numElements(), mean.length)
    val cx = centerDeflate(v, mean, dirs)
    if (cx == null) return new GenericArrayData(new Array[Any](outLen))
    val s = divFp(dotExact(cx, w))
    val out = new Array[Any](cx.length)
    var j = 0
    while (j < cx.length) {
      out(j) = divFp(math.multiplyExact(cx(j), s))
      j += 1
    }
    new GenericArrayData(out)
  }

  def evalCoords(v: ArrayData, mean: Array[Long],
                 dirs: Array[Array[Long]],
                 withRss: Boolean): GenericArrayData = {
    val r = dirs.length
    val outLen = r + (if (withRss) 1 else 0)
    val out = new Array[Any](outLen)
    val cx = centerDeflate(v, mean, Array.empty)
    if (cx == null) return new GenericArrayData(out) // all null
    var o = 0
    if (withRss) {
      var rss = 0L
      var i = 0
      while (i < cx.length) {
        rss = math.addExact(rss, math.multiplyExact(cx(i), cx(i)))
        i += 1
      }
      out(o) = rss
      o += 1
    }
    var d = 0
    while (d < r) {
      val dir = dirs(d)
      val p = divFp(dotExact(cx, dir))
      out(o) = p
      o += 1
      if (d < r - 1) {
        var j = 0
        while (j < cx.length) {
          cx(j) = math.subtractExact(cx(j), divFp(math.multiplyExact(dir(j), p)))
          j += 1
        }
      }
      d += 1
    }
    new GenericArrayData(out)
  }
}

case class Fp20Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"fp20_encode expects an array, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    PcaNative.evalFp20(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.PcaNative.evalFp20($v)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "fp20_encode"
}

case class PcaPowerStep(child: Expression, mean: Array[Long],
                        dirs: Seq[Array[Long]], w: Array[Long])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  @transient private lazy val dirArr: Array[Array[Long]] = dirs.toArray
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pca_power_step expects an array, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    PcaNative.evalPowerStep(v.asInstanceOf[ArrayData], mean, dirArr, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("mean", mean, "long[]")
    val dRef = ctx.addReferenceObj("dirs", dirArr, "long[][]")
    val wRef = ctx.addReferenceObj("w", w, "long[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.PcaNative.evalPowerStep($v, $mRef, $dRef, $wRef)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "pca_power_step"
}

case class PcaCoords(child: Expression, mean: Array[Long],
                     dirs: Seq[Array[Long]], withRss: Boolean)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  @transient private lazy val dirArr: Array[Array[Long]] = dirs.toArray
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pca_coords expects an array, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    PcaNative.evalCoords(v.asInstanceOf[ArrayData], mean, dirArr, withRss)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("mean", mean, "long[]")
    val dRef = ctx.addReferenceObj("dirs", dirArr, "long[][]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.PcaNative.evalCoords($v, $mRef, $dRef, $withRss)")
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "pca_coords"
}
