package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalacheck.Gen

/** The r19 native PQ kernels ([[graft.functions.PqNative]]) must be
  * BYTE-IDENTICAL to the composed higher-order-function forms they
  * replaced ([[graft.operators.PqIndexReference.distTableComposed]] and the
  * `aggregate(zip_with(a, b, (x,y) ⇒ (x−y)²))` fold, both kept as the
  * executable specification). Both run THROUGH SPARK on the same
  * frames, so codegen, null padding and fold order are all inside the
  * comparison. Doubles compare on raw bits (the fold is the same
  * ordered left sum, so even NaN payloads and −0.0 must agree). */
class PqNativeEquivalenceSpec extends SparkSpec {

  import graft.operators.{PqIndex, PqIndexReference}

  private val cb8x16x8: Array[Array[Array[Double]]] =
    Array.tabulate(8, 16, 8) { (j, c, d) =>
      (((j * 31 + c * 17 + d * 7) % 41) - 20) / 32.0
    }
  private val cb2x3x4: Array[Array[Array[Double]]] =
    Array.tabulate(2, 3, 4) { (j, c, d) => (j + 1) * 0.5 - c * 0.25 + d * 0.125 }

  private def bitsEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.doubleToRawLongBits(x) ==
        java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  // collect() hands back mutable.ArraySeq, which does NOT match the
  // 2.13 default (immutable) Seq extractor — match collection.Seq, or
  // the fallback == would compare NaN != NaN
  private def tableEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall {
        case (xe: scala.collection.Seq[_], ye: scala.collection.Seq[_]) =>
          xe.length == ye.length && xe.zip(ye).forall(p => bitsEq(p._1, p._2))
        case (xe, ye) => bitsEq(xe, ye)
      }
    case _ => a == b
  }

  /** Adversarial vector shapes around a nominal dimension `dim`. */
  private def edgeVectors(dim: Int): Seq[Seq[java.lang.Double]] = {
    def v(f: Int => Double, n: Int = dim): Seq[java.lang.Double] =
      (0 until n).map(i => java.lang.Double.valueOf(f(i)))
    Seq(
      null, // NULL vector
      Seq.empty, // empty array
      v(i => i * 0.25), // well-formed
      v(_ => 0.0), // zeros
      v(i => if (i % 2 == 0) -0.0 else 0.0), // signed zeros
      v(i => if (i == 3) Double.NaN else 1.0), // NaN element
      v(i => if (i == dim - 1) Double.PositiveInfinity else -1.0),
      v(i => if (i == 0) Double.NegativeInfinity else 2.0),
      v(i => i.toDouble, 1), // far too short
      v(i => i.toDouble, dim - 1), // one short (last subspace ragged)
      v(i => i.toDouble, dim / 2 + 1), // mid-subspace cut
      v(i => i.toDouble, dim + 5), // longer than m*ds
      v(i => -i * 1e3), // large magnitudes
      // null ELEMENTS at subspace boundaries and interiors
      v(i => i.toDouble).updated(0, null: java.lang.Double),
      v(i => i.toDouble).updated(dim - 1, null: java.lang.Double),
      v(i => i.toDouble).updated(dim / 2, null: java.lang.Double))
  }

  private def assertDistTableSame(cb: Array[Array[Array[Double]]],
                                  vecs: Seq[Seq[java.lang.Double]]): Unit = {
    import spark.implicits._
    val model = PqIndex.Model(cb)
    val df = vecs.toDF("v").localCheckpoint()
    val qv = col("v").cast("array<double>")
    val rows = df.select(
      col("v"),
      graft.functions.PqNative.distTable(qv, model.codebooks.toSeq).as("n"),
      PqIndexReference.distTableComposed(qv, model).as("c")).collect()
    rows.foreach { r =>
      assert(tableEq(r.get(1), r.get(2)),
        s"distTable diverged on ${r.get(0)}:\n native=${r.get(1)}\n composed=${r.get(2)}")
    }
  }

  test("dist table: adversarial shapes agree (8x16x8 — the q158 codebook)") {
    assertDistTableSame(cb8x16x8, edgeVectors(64))
  }

  test("dist table: adversarial shapes agree (2x3x4 — small odd shape)") {
    assertDistTableSame(cb2x3x4, edgeVectors(8))
  }

  test("dist table: random vectors agree bit-for-bit") {
    val genV: Gen[Seq[java.lang.Double]] = for {
      n <- Gen.frequency(6 -> Gen.const(64), 1 -> Gen.choose(0, 70))
      xs <- Gen.listOfN(n, Gen.frequency(
        10 -> Gen.choose(-4.0, 4.0).map(java.lang.Double.valueOf),
        1 -> Gen.oneOf(Seq(Double.NaN, Double.PositiveInfinity, -0.0, 1e300)
          .map(java.lang.Double.valueOf)),
        1 -> Gen.const(null: java.lang.Double)))
    } yield xs
    val vecs = Iterator.continually(genV.sample).flatten.take(300).toSeq
    assertDistTableSame(cb8x16x8, vecs)
  }

  test("l2sq fold: pairs with mismatches, nulls and non-finites agree") {
    import spark.implicits._
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    val base = v(1.0, -2.0, 3.5, 0.25)
    val pairs: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (base, v(0.5, 2.0, -3.5, 1.0)),
      (base, base),
      (base, v(0.5, 2.0, -3.5)), // shorter right
      (v(0.5, 2.0), base), // shorter left
      (base, Seq.empty), (Seq.empty, Seq.empty),
      (base, null), (null, base), (null, null),
      (base, v(0.5, null, -3.5, 1.0)), // null element
      (v(Double.NaN, 1.0, 2.0, 3.0), base),
      (base, v(Double.PositiveInfinity, 1.0, 2.0, 3.0)),
      (v(-0.0, 0.0, -0.0, 0.0), v(0.0, -0.0, -0.0, 0.0)),
      (v(1e300, 1e300, -1e300, 0.0), v(-1e300, 1e300, 1e300, 0.0)))
    val genP = for {
      n <- Gen.choose(0, 66)
      m <- Gen.frequency(8 -> Gen.const(n), 1 -> Gen.choose(0, 66))
      a <- Gen.listOfN(n, Gen.choose(-10.0, 10.0).map(java.lang.Double.valueOf))
      b <- Gen.listOfN(m, Gen.choose(-10.0, 10.0).map(java.lang.Double.valueOf))
    } yield (a: Seq[java.lang.Double], b: Seq[java.lang.Double])
    val all = pairs ++ Iterator.continually(genP.sample).flatten.take(300).toSeq
    val df = all.toDF("a", "b").localCheckpoint()
    val da = col("a").cast("array<double>")
    val db = col("b").cast("array<double>")
    val rows = df.select(col("a"), col("b"),
      graft.functions.PqNative.l2sqFold(da, db).as("n"),
      aggregate(zip_with(da, db, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("c")).collect()
    rows.foreach { r =>
      assert(bitsEq(r.get(2), r.get(3)),
        s"l2sqFold diverged on a=${r.get(0)} b=${r.get(1)}: " +
          s"native=${r.get(2)} composed=${r.get(3)}")
    }
  }

  /** End-to-end: the full q158-shaped search pipeline's OUTPUT is
    * unchanged by the kernel swap (the oracle re-proves this at sf0.01;
    * this is the fast in-tree gate). */
  test("search end-to-end matches a brute-force reference on a synthetic corpus") {
    import spark.implicits._
    val model = PqIndex.Model(cb2x3x4)
    val corpus = (0L until 60L).map { i =>
      (i, (0 until 8).map(d => ((i * 7 + d * 3) % 11 - 5) / 4.0))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val codes = PqIndex.encode(corpus, "vec_id", "embedding", model)
    val out = PqIndex.search(codes, corpus.where(col("vec_id") < 4),
      "vec_id", "embedding", model, kTop = 3).collect()
    // reference: composed dtab + composed fold, same ranking rule
    val qv = col("embedding").cast("array<double>")
    val qdf = corpus.where(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"),
        PqIndexReference.distTableComposed(qv, model).as("__dtab"))
    val adc = (0 until model.m).map { j =>
      element_at(element_at(col("__dtab"), j + 1),
        element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__adc"), col("n_id"))
    val ref = codes.crossJoin(qdf)
      .where(col("q_id") =!= col("pq_id"))
      .select(col("q_id"), col("pq_id").as("n_id"), adc.as("__adc"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"),
        round(col("__adc"), 6).as("adc")).collect()
    def key(r: Row) = (r.getLong(0), r.getInt(1))
    val om = out.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    val rm = ref.map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(om == rm, s"search output diverged:\n native=$om\n composed=$rm")
  }
}
