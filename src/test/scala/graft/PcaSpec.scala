package graft

import graft.operators.Pca
import org.apache.spark.sql.functions._

/** FP20 power-method protocol equality against a driver-side reference
  * replay, eigen-direction recovery, ABTT residuals, invariance,
  * refusals. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private val Fp = 1048576L

  private def tdiv(m: Long, d: Long): Long = m / d // Scala: trunc toward 0

  /** The whole protocol as plain loops — topComponent must match bit
    * for bit. */
  private def refComponent(vecs: Seq[Array[Double]], iters: Int)
  : (Array[Long], Array[Long]) = {
    val dim = vecs.head.length
    val fx = vecs.map(v => v.map(x => math.floor(x * Fp).toLong))
    val n = fx.size.toLong
    val mean = Array.tabulate(dim)(j => fx.map(_(j)).sum / n)
    var w = Array.fill(dim)(math.floor(Fp / math.sqrt(dim)).toLong)
    for (_ <- 1 to iters) {
      val u = Array.fill(dim)(0L)
      fx.foreach { v =>
        val cx = Array.tabulate(dim)(j => v(j) - mean(j))
        val s = tdiv(cx.indices.map(j => cx(j) * w(j)).sum, Fp)
        for (j <- 0 until dim) u(j) += tdiv(cx(j) * s, Fp)
      }
      val norm = math.sqrt(u.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
      w = u.map(v => math.floor(v.toDouble / norm * Fp).toLong)
    }
    (mean, w)
  }

  private def fixture(n: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(17)
    val dir = Array(0.6, 0.8, 0.0, 0.0) // dominant direction in 4-d
    (0 until n).map { i =>
      val t = rnd.nextGaussian() * 3.0
      val v = Array.tabulate(4)(j =>
        t * dir(j) + rnd.nextGaussian() * 0.05 + (if (j == 3) 2.0 else 0.0))
      (i.toLong, v)
    }
  }

  test("topComponent == driver-side reference replay, bit for bit; " +
    "partitioning-invariant") {
    val data = fixture(200)
    val df = data.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val (mRef, wRef) = refComponent(data.map(_._2), iters = 3)
    val c = Pca.topComponent(df, "vec_id", "embedding", iters = 3)
    assert(c.meanFp.toSeq == mRef.toSeq)
    assert(c.dirFp.toSeq == wRef.toSeq)
    val c2 = Pca.topComponent(df.repartition(7), "vec_id", "embedding", 3)
    assert(c2.dirFp.toSeq == c.dirFp.toSeq)
  }

  test("the recovered direction aligns with the planted dominant axis " +
    "and the mean absorbs the offset") {
    val data = fixture(500)
    val df = data.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val c = Pca.topComponent(df, "vec_id", "embedding", iters = 6)
    val w = c.dirFp.map(_.toDouble / Fp)
    val cos = math.abs(w(0) * 0.6 + w(1) * 0.8) /
      math.sqrt(w.map(x => x * x).sum)
    assert(cos > 0.99, s"cosine with planted direction: $cos")
    // the constant +2.0 on axis 3 lives in the mean, not the direction
    assert(math.abs(c.meanFp(3).toDouble / Fp - 2.0) < 0.05)
    assert(math.abs(w(3)) < 0.05)
  }

  /** Reference replay of topComponents: deflate rows after each
    * trained direction exactly as residualFrame does. */
  private def refComponents(vecs: Seq[Array[Double]], r: Int,
      iters: Int): Seq[Array[Long]] = {
    val dim = vecs.head.length
    val fx = vecs.map(v => v.map(x => math.floor(x * Fp).toLong))
    val n = fx.size.toLong
    val mean = Array.tabulate(dim)(j => fx.map(_(j)).sum / n)
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    for (_ <- 0 until r) {
      def resid(v: Array[Long]): Array[Long] = {
        var cx = Array.tabulate(dim)(j => v(j) - mean(j))
        dirs.foreach { d =>
          val s = tdiv(cx.indices.map(j => cx(j) * d(j)).sum, Fp)
          cx = Array.tabulate(dim)(j => cx(j) - tdiv(d(j) * s, Fp))
        }
        cx
      }
      var w = Array.fill(dim)(math.floor(Fp / math.sqrt(dim)).toLong)
      for (_ <- 1 to iters) {
        val u = Array.fill(dim)(0L)
        fx.foreach { v =>
          val cx = resid(v)
          val s = tdiv(cx.indices.map(j => cx(j) * w(j)).sum, Fp)
          for (j <- 0 until dim) u(j) += tdiv(cx(j) * s, Fp)
        }
        val norm = math.sqrt(u.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
        w = u.map(v => math.floor(v.toDouble / norm * Fp).toLong)
      }
      dirs += w
    }
    dirs.toSeq
  }

  test("topComponents == driver-side deflation replay bit for bit; " +
    "r=1 equals topComponent; directions near-orthogonal; the second " +
    "planted axis is recovered") {
    // two planted directions with well-separated spread
    val rnd = new scala.util.Random(23)
    val d1 = Array(0.6, 0.8, 0.0, 0.0)
    val d2 = Array(0.0, 0.0, 1.0, 0.0)
    val data = (0 until 300).map { i =>
      val t1 = rnd.nextGaussian() * 3.0
      val t2 = rnd.nextGaussian() * 1.5
      (i.toLong, Array.tabulate(4)(j =>
        t1 * d1(j) + t2 * d2(j) + rnd.nextGaussian() * 0.03))
    }
    val df = data.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val ref = refComponents(data.map(_._2), r = 2, iters = 4)
    val cs = Pca.topComponents(df, "vec_id", "embedding", r = 2, iters = 4)
    assert(cs.size == 2)
    assert(cs(0).dirFp.toSeq == ref(0).toSeq)
    assert(cs(1).dirFp.toSeq == ref(1).toSeq)
    assert(Pca.topComponent(df, "vec_id", "embedding", 4)
      .dirFp.toSeq == cs(0).dirFp.toSeq)
    val w1 = cs(0).dirFp.map(_.toDouble / Fp)
    val w2 = cs(1).dirFp.map(_.toDouble / Fp)
    val dot = w1.indices.map(j => w1(j) * w2(j)).sum
    assert(math.abs(dot) < 0.01, s"dir1.dir2 = $dot")
    val cos2 = math.abs(w2(2)) / math.sqrt(w2.map(x => x * x).sum)
    assert(cos2 > 0.98, s"PC2 cosine with planted axis 3: $cos2")
  }

  test("projectMany: pc1 matches project() on component 1; pc2 is the " +
    "RESIDUAL projection; shared-mean requirement enforced") {
    val data = fixture(200)
    val df = data.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cs = Pca.topComponents(df, "vec_id", "embedding", r = 2, iters = 3)
    val many = Pca.projectMany(df, "vec_id", "embedding", cs)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val one = Pca.project(df, "vec_id", "embedding", cs(0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one.forall { case (id, pc1) => many(id)._1 == pc1 })
    // pc2 projects the deflated residual: recompute one row by hand
    val (id0, v0) = data.head
    val mean = cs(0).meanFp
    var cx = Array.tabulate(4)(j =>
      math.floor(v0(j) * Fp).toLong - mean(j))
    val s1 = tdiv(cx.indices.map(j => cx(j) * cs(0).dirFp(j)).sum, Fp)
    cx = Array.tabulate(4)(j => cx(j) - tdiv(cs(0).dirFp(j) * s1, Fp))
    val s2 = tdiv(cx.indices.map(j => cx(j) * cs(1).dirFp(j)).sum, Fp)
    assert(many(id0) == (s1.toDouble / Fp, s2.toDouble / Fp))
    val alien = cs(1).copy(meanFp = cs(1).meanFp.map(_ + 1L))
    intercept[IllegalArgumentException] {
      Pca.projectMany(df, "vec_id", "embedding", Seq(cs(0), alien))
    }
  }

  test("varianceExplained: ss reconciles exactly with projectMany " +
    "coordinates; the planted dominant axis leads; ratios bounded") {
    val data = fixture(250)
    val df = data.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val cs = Pca.topComponents(df, "vec_id", "embedding", r = 2, iters = 4)
    val ve = Pca.varianceExplained(df, "vec_id", "embedding", cs)
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // reconcile: ss_i == sum over rows of s_i^2, s_i recovered exactly
    // from projectMany's pc_i = s_i / 2^20 (s_i < 2^26 => pc exact)
    val pcs = Pca.projectMany(df, "vec_id", "embedding", cs).collect()
    def ssOf(col: Int): Double = pcs.map { r =>
      val s = BigInt(math.round(r.getDouble(col) * Fp))
      s * s
    }.sum.toDouble
    assert(ve(1)._1 == ssOf(1))
    assert(ve(2)._1 == ssOf(2))
    assert(ve(1)._2 > ve(2)._2, s"PC1 should dominate: $ve")
    assert(ve(1)._2 > 0.5 && ve(1)._2 <= 1.0)
    assert(ve(2)._2 > 0.0 && ve(1)._2 + ve(2)._2 <= 1.0 + 1e-12)
    intercept[IllegalArgumentException] {
      Pca.varianceExplained(df, "vec_id", "embedding", Nil)
    }
  }

  test("refusals: iteration bounds, ragged dimensions, empty corpus, " +
    "degenerate constant corpus") {
    val ok = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(2.0, 1.0)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.topComponent(ok, "vec_id", "embedding", 0)
    }
    intercept[IllegalArgumentException] {
      Pca.topComponent(ok, "vec_id", "embedding", 21)
    }
    val ragged = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(1.0)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.topComponent(ragged, "vec_id", "embedding", 1)
    }
    intercept[IllegalArgumentException] {
      Pca.topComponent(ok.where(col("vec_id") < 0), "vec_id",
        "embedding", 1)
    }
    val const = Seq((1L, Seq(1.0, 1.0)), (2L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pca.topComponent(const, "vec_id", "embedding", 1)
    }
    intercept[IllegalArgumentException] { // r out of bounds
      Pca.topComponents(ok, "vec_id", "embedding", 0, 1)
    }
    intercept[IllegalArgumentException] { // r > dim
      Pca.topComponents(ok, "vec_id", "embedding", 3, 1)
    }
    intercept[IllegalArgumentException] { // empty component list
      Pca.projectMany(ok, "vec_id", "embedding", Nil)
    }
  }
}
