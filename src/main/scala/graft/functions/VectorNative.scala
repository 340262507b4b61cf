package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native vector math — the codegen'd replacements for the
  * zip_with/aggregate formulations (VectorExprsReference in the specs,
  * their executable specification), which fall out of
  * whole-stage codegen and interpret the lambda per element (measured 18s
  * for a bucketed pairwise cosine pass at sf0.1 that runs in ~2s here).
  *
  * Accumulation is the identical ordered left fold in double precision, so
  * results are bit-for-bit the same as both the HOF form and the DuckDB
  * oracle's list_dot_product.
  */
object VectorNative {

  /** cos(a, b) = dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) in one pass. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expr(a.cast(ArrayType(DoubleType))),
      ColumnBridge.expr(b.cast(ArrayType(DoubleType)))))

  /** Ordered-fold dot product (the post-normalization cosine kernel). */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expr(a.cast(ArrayType(DoubleType))),
      ColumnBridge.expr(b.cast(ArrayType(DoubleType)))))

  /** x / ||x||₂ per element. Pre-normalizing each vector ONCE turns every
    * pairwise cosine in a similarity join into a bare dot product — 3×
    * fewer multiply-adds per candidate pair, paid O(n) instead of
    * O(candidate pairs). Zero-norm vectors propagate NaN (mirrors the
    * unnormalized cosine's 0/0). */
  def l2Normalize(v: Column): Column =
    ColumnBridge.column(L2Normalize(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType)))))

  /** Hyperplane sign-bit bucket: '0'/'1' per plane, concatenated. */
  def planeBits(v: Column, planes: Seq[Seq[Double]]): Column =
    ColumnBridge.column(HyperplaneBits(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))), planes.map(_.toArray)))

  /** Dimension mismatches and null elements produce plausible-but-wrong
    * similarities if tolerated (truncate-to-min reads garbage as 0.0), so
    * every kernel rejects them with a clear error instead. */
  private def checkDims(n: Int, m: Int, op: String): Unit =
    if (n != m) throw new IllegalArgumentException(
      s"$op: vector dimension mismatch ($n vs $m)")

  private def checkNotNullAt(a: ArrayData, i: Int, op: String): Unit =
    if (a.isNullAt(i)) throw new IllegalArgumentException(
      s"$op: null element at index $i — scrub or filter null vector entries first")

  /** NaN distances compare false against every threshold, so a NaN query
    * would silently fall through argmin/top-k and emit centroid 0 —
    * reject it like the null/dim checks do. */
  private def checkFinite(d: Double, op: String): Unit =
    if (d.isNaN) throw new IllegalArgumentException(
      s"$op: NaN distance — the query vector contains NaN")

  def evalDot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    checkDims(n, b.numElements(), "dot_product")
    var d = 0.0
    var i = 0
    while (i < n) {
      checkNotNullAt(a, i, "dot_product")
      checkNotNullAt(b, i, "dot_product")
      d += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    d
  }

  def evalNormalize(v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    var sq = 0.0
    var i = 0
    while (i < n) {
      checkNotNullAt(v, i, "l2_normalize")
      val x = v.getDouble(i); sq += x * x; i += 1
    }
    val nrm = math.sqrt(sq)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) / nrm; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def evalCosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    checkDims(n, b.numElements(), "cosine_sim")
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      checkNotNullAt(a, i, "cosine_sim")
      checkNotNullAt(b, i, "cosine_sim")
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** argmin over squared L2 to each centroid; ties → lowest index. */
  def evalNearestCentroid(v: ArrayData, cent: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cent.length) {
      val w = cent(c)
      checkDims(n, w.length, "nearest_centroid")
      var d = 0.0
      var i = 0
      while (i < n) {
        checkNotNullAt(v, i, "nearest_centroid")
        val t = v.getDouble(i) - w(i); d += t * t; i += 1
      }
      checkFinite(d, "nearest_centroid")
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Top-`nProbe` nearest centroid cells, ascending squared-L2 distance
    * (ties → lowest index, consistent with [[evalNearestCentroid]]).
    * Centroid counts are small (≤ a few thousand), so a linear scan with
    * an insertion top-k buffer beats building and sorting the full
    * distance array. */
  def evalNearestCells(v: ArrayData, cent: Array[Array[Double]], nProbe: Int)
  : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val k = math.min(nProbe, cent.length)
    val bestD = Array.fill(k)(Double.MaxValue)
    val bestI = new Array[Int](k)
    var c = 0
    while (c < cent.length) {
      val w = cent(c)
      checkDims(n, w.length, "nearest_cells")
      var d = 0.0
      var i = 0
      while (i < n) {
        checkNotNullAt(v, i, "nearest_cells")
        val t = v.getDouble(i) - w(i); d += t * t; i += 1
      }
      checkFinite(d, "nearest_cells")
      if (d < bestD(k - 1)) {
        var j = k - 1
        while (j > 0 && bestD(j - 1) > d) {
          bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1
        }
        bestD(j) = d; bestI(j) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestI)
  }

  /** Nearest-centroid cell id for IVF assignment. */
  def nearestCentroid(v: Column, centroids: Seq[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroid(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))), centroids))

  /** Top-`nProbe` IVF probe cells for a query vector — the distributed
    * replacement for driver-side probe selection: explode the result to
    * get one (query, cell) probe row per cell, all inside the scan. */
  def nearestCells(v: Column, centroids: Seq[Array[Double]], nProbe: Int): Column =
    ColumnBridge.column(NearestCells(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))), centroids, nProbe))

  /** Dense projection: out[j] = dot(v, planes[j]) — the JL-style
    * dimensionality reduction that turns a 64-float embedding into k
    * doubles before it ever reaches a shuffle. Same ordered fold as
    * [[evalDot]], so results are bit-identical to the oracle's
    * list_dot_product. */
  def evalProject(v: ArrayData, planes: Array[Array[Double]]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val out = new Array[Double](planes.length)
    var j = 0
    while (j < planes.length) {
      val w = planes(j)
      checkDims(n, w.length, "random_project")
      var acc = 0.0
      var i = 0
      while (i < n) {
        checkNotNullAt(v, i, "random_project")
        acc += v.getDouble(i) * w(i); i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fixed-matrix random projection to `planes.length` dims. */
  def randomProject(v: Column, planes: Seq[Seq[Double]]): Column =
    ColumnBridge.column(RandomProject(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))), planes.map(_.toArray)))

  /** Symmetric per-vector int8 quantization round-trip stats:
    * `[scale, mse, max_err]` where scale = max|v|/127, q_i = clamp(
    * round-half-away-from-zero(v_i/scale), ±127), err_i = v_i - q_i*scale.
    * The storage-compression feasibility probe a training pipeline runs
    * before shipping int8 embeddings: one pass, no allocation beyond the
    * 3-slot result. All-zero vectors quantize losslessly (scale 0). */
  def evalInt8Stats(v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      checkNotNullAt(v, i, "int8_quant_stats")
      val a = math.abs(v.getDouble(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127.0
    var sse = 0.0
    var maxErr = 0.0
    if (scale > 0) {
      i = 0
      while (i < n) {
        val x = v.getDouble(i)
        val r = x / scale
        // round half AWAY from zero — matches DuckDB/C++ round(), not
        // Math.round's half-toward-positive-infinity
        var q = math.floor(math.abs(r) + 0.5)
        if (r < 0) q = -q
        if (q > 127.0) q = 127.0 else if (q < -127.0) q = -127.0
        val e = x - q * scale
        sse += e * e
        val ae = math.abs(e)
        if (ae > maxErr) maxErr = ae
        i += 1
      }
    }
    val mse = if (n == 0) 0.0 else sse / n
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(scale, mse, maxErr))
  }

  /** `[scale, mse, max_err]` of int8-quantizing the vector. */
  def int8QuantStats(v: Column): Column =
    ColumnBridge.column(Int8QuantStats(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType)))))

  def evalPlaneBits(v: ArrayData, planes: Array[Array[Double]]): UTF8String = {
    val sb = new java.lang.StringBuilder(planes.length)
    val n = v.numElements()
    var j = 0
    while (j < planes.length) {
      val w = planes(j)
      checkDims(n, w.length, "hyperplane_bits")
      var acc = 0.0
      var i = 0
      while (i < n) {
        checkNotNullAt(v, i, "hyperplane_bits")
        acc += v.getDouble(i) * w(i); i += 1
      }
      sb.append(if (acc >= 0) '1' else '0')
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    if (Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] ||
      e.dataType == NullType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects arrays, got ${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.evalDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorNative.evalDot($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"l2_normalize expects an array, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalNormalize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorNative.evalNormalize($v)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "l2_normalize"
}

case class Int8QuantStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int8_quant_stats expects an array, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalInt8Stats(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorNative.evalInt8Stats($v)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "int8_quant_stats"
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes() =
    if (Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] ||
      e.dataType == NullType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects arrays, got ${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.evalCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorNative.evalCosine($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

case class NearestCentroid(child: Expression, centroids: Seq[Array[Double]])
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  @transient private lazy val centArr: Array[Array[Double]] = centroids.toArray

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalNearestCentroid(v.asInstanceOf[ArrayData], centArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArr, "double[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorNative.evalNearestCentroid($v, $ref)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

case class RandomProject(child: Expression, planes: Seq[Array[Double]])
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  @transient private lazy val planeArr: Array[Array[Double]] = planes.toArray

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalProject(v.asInstanceOf[ArrayData], planeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorNative.evalProject($v, $ref)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "random_project"
}

case class NearestCells(child: Expression, centroids: Seq[Array[Double]], nProbe: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val centArr: Array[Array[Double]] = centroids.toArray

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalNearestCells(v.asInstanceOf[ArrayData], centArr, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArr, "double[][]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.VectorNative.evalNearestCells($v, $ref, $nProbe)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "nearest_cells"
}

case class HyperplaneBits(child: Expression, planes: Seq[Array[Double]])
  extends UnaryExpression {
  override def dataType: DataType = StringType
  @transient private lazy val planeArr: Array[Array[Double]] = planes.toArray

  override def nullSafeEval(v: Any): Any =
    VectorNative.evalPlaneBits(v.asInstanceOf[ArrayData], planeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorNative.evalPlaneBits($v, $ref)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "hyperplane_bits"
}
