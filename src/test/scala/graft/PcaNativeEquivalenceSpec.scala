package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** The r19 native FP20 PCA kernels ([[graft.functions.PcaNative]])
  * must be EXACTLY equal to the composed higher-order-function chains
  * they replaced (kept in [[graft.operators.PcaReference]] as
  * `*Composed` builders — the executable specification). The protocol
  * is integer-exact, so equality is literal (no FP tolerance); both
  * sides run THROUGH SPARK so codegen, zip_with padding and null
  * poisoning are all inside the comparison. The Spark-floor edge
  * semantics (NaN → 0, ±Inf saturating) are covered by the
  * adversarial generators. */
class PcaNativeEquivalenceSpec extends SparkSpec {

  import graft.operators.{Pca, PcaReference}

  private val dim = 8
  private val mean: Array[Long] =
    Array.tabulate(dim)(i => (i * 37 - 111).toLong)
  private val dir1: Array[Long] =
    Array.tabulate(dim)(i => math.floor(
      Pca.Fp / math.sqrt(dim) * (if (i % 2 == 0) 1 else -1)).toLong)
  private val dir2: Array[Long] =
    Array.tabulate(dim)(i => (((i * 131) % 997) - 500) * 1000L)
  private val w: Array[Long] =
    Array.tabulate(dim)(i => (((i * 17) % 41) - 20) * 25000L)

  private def comps: Seq[Pca.Component] =
    Seq(Pca.Component(dim, mean, dir1), Pca.Component(dim, mean, dir2))

  /** In-envelope (|x| ≤ 90, the operator's documented bound — beyond
    * it BOTH implementations fail loudly, tested separately) +
    * adversarial shape/null/NaN vectors around dimension `dim`. */
  private def vectors(): Seq[Seq[java.lang.Double]] = {
    def v(f: Int => Double, n: Int = dim): Seq[java.lang.Double] =
      (0 until n).map(i => java.lang.Double.valueOf(f(i)))
    val hand: Seq[Seq[java.lang.Double]] = Seq(
      null, Seq.empty,
      v(i => i * 0.25 - 1.0),
      v(_ => 0.0),
      v(i => if (i % 2 == 0) -0.0 else 0.5),
      v(i => if (i == 3) Double.NaN else 1.0), // floor(NaN)=0 edge
      v(i => -i * 1.5),
      v(i => i.toDouble, dim - 1), // short
      v(i => i.toDouble, dim + 3), // long
      v(i => i * 0.125, 1),
      v(i => i.toDouble).updated(2, null: java.lang.Double), // null element
      v(i => 1e-9 * i), v(i => 89.0 - i)) // envelope edges
    val gen: Gen[Seq[java.lang.Double]] = for {
      n <- Gen.frequency(8 -> Gen.const(dim), 1 -> Gen.choose(0, dim + 2))
      xs <- Gen.listOfN(n, Gen.frequency(
        12 -> Gen.choose(-90.0, 90.0).map(java.lang.Double.valueOf),
        1 -> Gen.const(null: java.lang.Double),
        1 -> Gen.oneOf(Seq(Double.NaN, -0.0, 0.0)
          .map(java.lang.Double.valueOf))))
    } yield xs
    hand ++ Iterator.continually(gen.sample).flatten.take(300).toSeq
  }

  private def frame(vs: Seq[Seq[java.lang.Double]]) = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").localCheckpoint()
  }

  private def assertFramesEqual(a: org.apache.spark.sql.DataFrame,
                                b: org.apache.spark.sql.DataFrame,
                                what: String): Unit = {
    val ra = a.collect()
    val rb = b.collect()
    assert(ra.length == rb.length, s"$what: row counts differ")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$what diverged at row $i:\n native  =$x\n composed=$y")
    }
  }

  test("fp20 encode: kernel == composed transform over adversarial vectors") {
    val df = frame(vectors())
    assertFramesEqual(
      df.select(graft.functions.PcaNative.fp20(col("embedding"))
        .as("fx")).select(col("fx").cast("string")),
      df.select(PcaReference.fxColComposed("embedding")
        .as("fx")).select(col("fx").cast("string")),
      "fp20")
  }

  test("power step: kernel == composed staged chain (0, 1 and 2 prev dirs)") {
    val df = frame(vectors())
    for (prev <- Seq(Seq.empty[Array[Long]], Seq(dir1), Seq(dir1, dir2))) {
      assertFramesEqual(
        df.select(graft.functions.PcaNative
          .powerStep(col("embedding"), mean, prev, w).as("__c"))
          .select(col("__c").cast("string")),
        PcaReference.powerStepComposed(df, "embedding", mean, prev, w)
          .select(col("__c").cast("string")),
        s"powerStep(prev=${prev.length})")
    }
  }

  test("project / projectMany: kernel coords == composed chains") {
    val df = frame(vectors())
    assertFramesEqual(
      Pca.project(df, "vec_id", "embedding", comps.head),
      PcaReference.projectComposed(df, "vec_id", "embedding", comps.head),
      "project")
    assertFramesEqual(
      Pca.projectMany(df, "vec_id", "embedding", comps),
      PcaReference.projectManyComposed(df, "vec_id", "embedding", comps),
      "projectMany")
  }

  test("variance rows: kernel coords(withRss) == composed chain") {
    // envelope: |cx| must keep cx^2 addable; restrict magnitudes like
    // the operator's documented bound
    val df = frame(vectors())
    val xs = graft.functions.PcaNative.coords(col("embedding"),
      mean, comps.map(_.dirFp), withRss = true)
    assertFramesEqual(
      df.select(element_at(xs, 1).as("__rss"),
        element_at(xs, 2).as("__p0"), element_at(xs, 3).as("__p1")),
      PcaReference.varianceRowsComposed(df, "embedding", comps),
      "varianceRows")
  }

  test("out-of-envelope inputs fail loudly in BOTH implementations") {
    // +Inf saturates the floor to Long.MaxValue; the very first centering
    // subtraction overflows. ANSI (Spark 4 default) makes the composed
    // chain throw SparkArithmeticException; the kernel's Math.*Exact
    // throws java.lang.ArithmeticException — loud either way, never a
    // silent wrap (the envelope is documented at Pca's scaladoc).
    val df = frame(Seq((0 until dim).map(i => java.lang.Double.valueOf(
      if (i == 0) Double.PositiveInfinity else 0.1))))
    def causedByArithmetic(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
        .exists(_.isInstanceOf[java.lang.ArithmeticException])
    val nat = intercept[Throwable] {
      df.select(graft.functions.PcaNative
        .powerStep(col("embedding"), mean, Nil, w).as("__c")).collect()
    }
    assert(causedByArithmetic(nat), s"native failure was not arithmetic: $nat")
    val comp = intercept[Throwable] {
      PcaReference.powerStepComposed(df, "embedding", mean, Nil, w).collect()
    }
    assert(comp.isInstanceOf[org.apache.spark.SparkException] ||
      causedByArithmetic(comp) ||
      comp.getClass.getName.contains("Arithmetic"),
      s"composed failure was not arithmetic: $comp")
  }

  test("end-to-end: trained components and projections are unchanged on a clean corpus") {
    import spark.implicits._
    val emb = (0L until 300L).map { i =>
      (i, (0 until dim).map(d =>
        math.sin(i * 0.37 + d) * 2.0 + (if (d == 0) i % 7 else 0).toDouble))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val cs = Pca.topComponents(emb, "vec_id", "embedding", r = 2, iters = 2)
    // reference training driven entirely through the composed chains
    val (m, _) = {
      // recompute mean via composed encode + the same sum/DIV protocol
      val sums = (0 until dim).map(j =>
        sum(element_at(PcaReference.fxColComposed("embedding"), j + 1)).as(s"u$j"))
      val row = emb.agg(sums.head, sums.tail: _*).collect()(0)
      (Array.tabulate(dim)(j => row.getLong(j) / 300L), 300L)
    }
    assert(cs.head.meanFp.toSeq == m.toSeq, "means diverged")
    var dirs = Seq.empty[Array[Long]]
    for (r <- 0 until 2) {
      var wr = Array.fill(dim)(math.floor(Pca.Fp / math.sqrt(dim)).toLong)
      for (_ <- 1 to 2) {
        val staged = PcaReference.powerStepComposed(emb, "embedding", m, dirs, wr)
        val sums = (0 until dim).map(j =>
          sum(element_at(col("__c"), j + 1)).as(s"u$j"))
        val row = staged.agg(sums.head, sums.tail: _*).collect()(0)
        val u = Array.tabulate(dim)(j => row.getLong(j))
        val norm = math.sqrt(u.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
        wr = u.map(v => math.floor(v.toDouble / norm * Pca.Fp).toLong)
      }
      assert(cs(r).dirFp.toSeq == wr.toSeq, s"direction $r diverged")
      dirs = dirs :+ wr
    }
  }
}
