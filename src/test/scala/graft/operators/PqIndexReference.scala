package graft.operators

import graft.operators.PqIndex.Model
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed-HOF executable specification of the [[PqIndex]] ADC table;
  * spec use only. */
object PqIndexReference {

  /** The composed-HOF ADC table — the executable SPECIFICATION of
    * [[graft.functions.PqNative.distTable]] (which is what the search
    * paths run): m×k `aggregate(zip_with(slice…))` subtrees ≈ 3,900
    * analyzed expression nodes per plan, ~0.5–0.9 s of driver planning
    * per action (measured r19, OPTIMIZATION_r19.md §8) and
    * interpreted per-element lambdas at runtime. Kept ONLY for
    * PqNativeEquivalenceSpec, which holds the two byte-identical
    * through Spark — do not use on hot paths. */
  private[graft] def distTableComposed(qv: Column, model: Model): Column =
    array((0 until model.m).map { j =>
      val sub = slice(qv, j * model.ds + 1, model.ds)
      array((0 until model.k).map { c =>
        val cent = model.codebooks(j)(c).toSeq
        aggregate(
          zip_with(sub, typedlit(cent), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      }: _*)
    }: _*)
}
