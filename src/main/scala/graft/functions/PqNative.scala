package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native PQ (product-quantization) kernels — codegen'd replacements
  * for the two higher-order-function formulations in
  * [[graft.operators.PqIndex]] (r19, guide §7.3 "very large plans" +
  * §1.2 step 2; the [[UrlCanonExpr]] / [[VectorNative]] pattern):
  *
  *  - the per-query ADC distance table was `array(array(aggregate(
  *    zip_with(slice(v, j·ds+1, ds), centroid, (x,y) ⇒ (x−y)²)), …))`
  *    over m×k (subspace, centroid) pairs — 128 aggregate/zip_with/
  *    slice subtrees ≈ 3,900 analyzed expression nodes per plan
  *    (measured, OPTIMIZATION_r19.md §8), ~0.5–0.9 s of analyzer/
  *    optimizer/codegen per ACTION even warm (q158: 0.93 s of driver
  *    gaps around 0.65 s of jobs), and interpreted per-element lambda
  *    eval at runtime (HOFs are CodegenFallback);
  *  - the exact re-rank distance was `aggregate(zip_with(qv, nv,
  *    (x,y) ⇒ (x−y)²), 0.0, (acc,x) ⇒ acc+x)` per candidate ROW — the
  *    one place the interpreted fold sat on the data side.
  *
  * Semantics are the composed forms', verbatim: the SAME ordered left
  * fold in double precision starting at 0.0 (bit-identical results —
  * no reassociation), and the SAME null/shape contract (zip_with pads
  * the shorter side with nulls and a null poisons the fold, so a
  * subspace that runs past the vector's end, a null element, or a
  * length mismatch yields NULL — never an error). The composed
  * builders are kept in [[graft.operators.PqIndex]] as the executable
  * specification; PqNativeEquivalenceSpec holds both implementations
  * byte-identical THROUGH SPARK over adversarial shapes (short/long/
  * empty/null vectors, null elements, NaN/±Inf/−0.0) and random
  * inputs. */
object PqNative {

  /** m×k ADC table: out[j][c] = Σ_d (v[j·ds+d] − cb[j][c][d])² in
    * element order (ordered fold from 0.0). NULL input vector mirrors
    * the composed form: the table itself is non-null with every entry
    * null (array() of null aggregates), NOT a null table. */
  def distTable(v: Column, codebooks: Seq[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqDistTable(
      ColumnBridge.expr(v.cast(ArrayType(DoubleType))),
      codebooks.map(_.map(_.clone()))))

  /** Ordered-fold squared L2: NULL on length mismatch or null element
    * (the zip_with padding contract), else bit-identical to the
    * composed fold. */
  def l2sqFold(a: Column, b: Column): Column =
    ColumnBridge.column(L2SqFold(
      ColumnBridge.expr(a.cast(ArrayType(DoubleType))),
      ColumnBridge.expr(b.cast(ArrayType(DoubleType)))))

  /** Shared eval: `v` MAY be null (the composed table is all-null then).
    * ds is uniform across subspaces ([[graft.operators.PqIndex.Model]]
    * requires it), exactly like the composed `slice(v, j*ds+1, ds)`. */
  def evalDistTable(v: ArrayData,
                    cb: Array[Array[Array[Double]]]): GenericArrayData = {
    val m = cb.length
    val ds = if (m > 0 && cb(0).length > 0) cb(0)(0).length else 0
    val n = if (v == null) -1 else v.numElements()
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cents = cb(j)
      val k = cents.length
      val lo = j * ds
      // subspace usable iff the slice is full-length and null-free;
      // otherwise every (x−y)² sees a padded/absent/null x and the
      // fold poisons to null — exactly the composed zip_with contract
      var ok = v != null && lo + ds <= n
      if (ok) {
        var d = 0
        while (ok && d < ds) { if (v.isNullAt(lo + d)) ok = false; d += 1 }
      }
      val row = new Array[Any](k)
      if (ok) {
        var c = 0
        while (c < k) {
          val w = cents(c)
          var acc = 0.0
          var d = 0
          while (d < ds) {
            val t = v.getDouble(lo + d) - w(d)
            acc += t * t
            d += 1
          }
          row(c) = acc
          c += 1
        }
      }
      out(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Boxed so the mismatch/null-element cases can return null (the
    * composed fold's poisoned accumulator). */
  def evalL2Sq(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null // zip_with pads -> null fold
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val t = a.getDouble(i) - b.getDouble(i)
      acc += t * t
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** One expression node replacing the m×k-subtree composed table. The
  * codebooks ride along as a literal reference object (the
  * [[NearestCentroid]] pattern), so the analyzed tree is O(1) nodes
  * regardless of m·k. */
case class PqDistTable(child: Expression,
                       codebooks: Seq[Array[Array[Double]]])
  extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true),
      containsNull = false)
  // the composed array(array(...)) is non-null even for a NULL vector
  // (its ENTRIES go null); mirror that exactly
  override def nullable: Boolean = false
  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.toArray).toArray

  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType] || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pq_dist_table expects an array, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    PqNative.evalDistTable(
      if (v == null) null else v.asInstanceOf[ArrayData], cbArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("codebooks", cbArr, "double[][][]")
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.PqNative.evalDistTable(
            ${c.isNull} ? null : ${c.value}, $ref);
        """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): PqDistTable =
    copy(child = c)
  override def prettyName: String = "pq_dist_table"
}

/** One node replacing `aggregate(zip_with(a, b, (x,y) ⇒ (x−y)²), 0.0,
  * (acc,x) ⇒ acc+x)` — the exact re-rank's per-candidate fold. */
case class L2SqFold(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // null even for non-null inputs (mismatch / null element)
  override def nullable: Boolean = true

  override def checkInputDataTypes() =
    if (Seq(left, right).forall(e => e.dataType.isInstanceOf[ArrayType] ||
      e.dataType == NullType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"l2sq_fold expects arrays, got ${left.dataType.sql}, ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any =
    PqNative.evalL2Sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.PqNative.evalL2Sq($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "l2sq_fold"
}
