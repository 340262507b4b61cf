package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector math over `array<float>` columns as pure Catalyst
  * higher-order functions (zip_with / aggregate) — the composed-HOF
  * specifications of the [[VectorNative]] kernels; spec use only.
  *
  * Accumulation is an ordered left fold in double precision so results are
  * bit-deterministic and engine-portable (the DuckDB oracle's
  * list_dot_product folds in the same element order).
  */
object VectorExprsReference {

  private def d(c: Column): Column = c.cast("array<double>")

  /** Ordered-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The composed-HOF cosine (reference implementation for equivalence
    * tests; interpreted per element — do not use on hot paths). */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Composed-HOF plane bits (reference implementation for tests). */
  def simhashPlanesComposed(v: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.map { p =>
      val w = array(p.map(lit): _*)
      when(aggregate(zip_with(d(v), w, (x, y) => x * y), lit(0.0), (a, x) => a + x) >= 0, lit("1"))
        .otherwise(lit("0"))
    }
    concat(bits: _*)
  }
}
