package graft.operators

import graft.operators.Pca.{Component, Fp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composed-HOF executable specifications of the [[Pca]] kernels
  * ([[graft.functions.PcaNative]] is what the scans run);
  * PcaNativeEquivalenceSpec holds the two identical through Spark.
  * Interpreted per element — spec use only. */
object PcaReference {

  /** DIV 2²⁰ truncating toward zero on either sign (`m − m % Fp` is
    * exactly divisible; the double division is exact below 2⁵³). */
  private def divFp(m: Column): Column = ((m - (m % Fp)) / Fp).cast("long")

  /** Composed-HOF FP20 encode — the executable SPECIFICATION of
    * [[graft.functions.PcaNative.fp20]] (what the scans actually run;
    * PcaNativeEquivalenceSpec holds them identical through Spark).
    * Interpreted per element — spec/test use only. */
  private[graft] def fxColComposed(vecCol: String): Column =
    transform(col(vecCol).cast("array<double>"),
      x => floor(x * Fp).cast("long"))

  /** Centered FP20 rows as column `__cx`, deflated by `prevDirs` in
    * training order: for each previous direction d, the row loses its
    * d-component — cx ← cx − (d·((cx·d) DIV 2²⁰) DIV 2²⁰) — every step
    * in the exact protocol, every scalar STAGED as a named projection
    * (the q154 HOF lesson: a lambda-captured expression TREE
    * re-evaluates per element; a staged attribute reads a slot). */
  private[graft] def residualFrameComposed(emb: DataFrame, vecCol: String,
      mean: Array[Long], prevDirs: Seq[Array[Long]]): DataFrame = {
    var df = emb.select(
      zip_with(fxColComposed(vecCol), typedLit(mean.toSeq), (a, b) => a - b)
        .as("__cx"))
    prevDirs.foreach { d =>
      val dLit = typedLit(d.toSeq)
      df = df
        .select(col("__cx"),
          divFp(aggregate(zip_with(col("__cx"), dLit, (a, b) => a * b),
            lit(0L), (acc, v) => acc + v)).as("__s"))
        .select(zip_with(col("__cx"), dLit,
          (c, dj) => c - divFp(dj * col("__s"))).as("__cx"))
    }
    df
  }

  /** Composed-HOF power-iteration step over [[residualFrameComposed]]
    * — the executable SPECIFICATION of
    * [[graft.functions.PcaNative.powerStep]] (kept for
    * PcaNativeEquivalenceSpec; interpreted per element, spec use
    * only). */
  private[graft] def powerStepComposed(emb: DataFrame, vecCol: String,
      mean: Array[Long], prevDirs: Seq[Array[Long]],
      w: Array[Long]): DataFrame = {
    val wLit = typedLit(w.toSeq)
    residualFrameComposed(emb, vecCol, mean, prevDirs)
      .select(col("__cx"),
        divFp(aggregate(zip_with(col("__cx"), wLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v)).as("__s"))
      .select(transform(col("__cx"),
        c => divFp(c * col("__s"))).as("__c"))
  }

  /** Composed-HOF PC1 coordinate — the executable SPECIFICATION of
    * [[graft.functions.PcaNative.coords]] at r=1 (spec use only). */
  private[graft] def projectComposed(emb: DataFrame, idCol: String,
      vecCol: String, comp: Component): DataFrame = {
    val cx = zip_with(fxColComposed(vecCol), typedLit(comp.meanFp.toSeq),
      (a, b) => a - b)
    val s = divFp(aggregate(zip_with(cx, typedLit(comp.dirFp.toSeq),
      (a, b) => a * b), lit(0L), (acc, v) => acc + v))
    emb.select(col(idCol).as("id"),
      (s.cast("double") / lit(Fp.toDouble)).as("pc1"))
  }

  /** Composed-HOF residual coordinates — the executable SPECIFICATION
    * of [[graft.functions.PcaNative.coords]] (spec use only). */
  private[graft] def projectManyComposed(emb: DataFrame, idCol: String,
      vecCol: String, comps: Seq[Component]): DataFrame = {
    var df = emb.select(col(idCol).as("id"),
      zip_with(fxColComposed(vecCol), typedLit(comps.head.meanFp.toSeq),
        (a, b) => a - b).as("__cx"))
    comps.zipWithIndex.foreach { case (c, i) =>
      val dLit = typedLit(c.dirFp.toSeq)
      df = df.withColumn(s"__p${i + 1}",
        divFp(aggregate(zip_with(col("__cx"), dLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v)))
      if (i < comps.size - 1)
        df = df.withColumn("__cx", zip_with(col("__cx"), dLit,
          (cc, dj) => cc - divFp(dj * col(s"__p${i + 1}"))))
    }
    df.select(col("id") +: comps.indices.map(i =>
      (col(s"__p${i + 1}").cast("double") / lit(Fp.toDouble))
        .as(s"pc${i + 1}")): _*)
  }

  /** Composed-HOF per-row variance frame (__rss, __p0 … __p{r−1}) —
    * the executable SPECIFICATION of
    * [[graft.functions.PcaNative.coords]] with withRss=true (spec use
    * only). */
  private[graft] def varianceRowsComposed(emb: DataFrame, vecCol: String,
      comps: Seq[Component]): DataFrame = {
    var df = emb.select(
      zip_with(fxColComposed(vecCol), typedLit(comps.head.meanFp.toSeq),
        (a, b) => a - b).as("__cx"))
      .withColumn("__rss", aggregate(col("__cx"), lit(0L),
        (acc, v) => acc + v * v))
    comps.zipWithIndex.foreach { case (c, i) =>
      val dLit = typedLit(c.dirFp.toSeq)
      df = df.withColumn(s"__p$i",
        divFp(aggregate(zip_with(col("__cx"), dLit, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v)))
      if (i < comps.size - 1)
        df = df.withColumn("__cx", zip_with(col("__cx"), dLit,
          (cc, dj) => cc - divFp(dj * col(s"__p$i"))))
    }
    df.select(col("__rss") +: comps.indices.map(i => col(s"__p$i")): _*)
  }
}
