package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal-component analysis of an embedding corpus by the POWER
  * METHOD (fixed iterations), for the "all-but-the-top" audit
  * (Mu & Viswanath, "All-but-the-Top: Simple and Effective
  * Postprocessing for Word Representations", ICLR 2018 — public
  * literature): embedding sets share a large common direction that
  * dominates cosine similarity; removing the mean and the top
  * principal direction measurably sharpens retrieval and dedup — the
  * reason a 100 TB embedding pipeline wants PC1 at all. Also the
  * drift-analysis primitive: PC1 of (snapshot B − snapshot A) names
  * the direction a corpus moved.
  *
  * Exact fixed-point protocol (the q145 FP20 discipline — floor(x·2²⁰)
  * per element — so a SQL oracle replays every iteration hash-exact):
  * vectors and the direction live as FP20 longs; the per-row scalar is
  * s = (Σ cxⱼ·wⱼ) DIV 2²⁰ and its vector contribution cxⱼ·s DIV 2²⁰
  * (all DIV truncate toward zero — both engines' semantics); the
  * per-iteration accumulation u is an EXACT long sum, so it is
  * order-independent and partitioning-invariant — no float ever
  * accumulates across rows. The only floats are the driver-side
  * normalization u/‖u‖ (IEEE divide + correctly-rounded sqrt of an
  * exact integer — bit-identical in any engine) floored back to FP20,
  * and the final projection scaling.
  *
  * Scale shape (100 TB): NO corpus materialization — each iteration is
  * one narrow scan of the source (fixed-point encode + two
  * higher-order folds per row) feeding a ≤ dim-key positional
  * aggregate (map-side partial) and a dim-row collect; the driver
  * loop is bounded (the KMeans/LinkGraph discipline). Mean and count
  * compute once the same way. Overflow envelope: |x| < 2¹² per
  * element and n < 2³¹ rows keep every product under 2⁵³ and every
  * sum under 2⁶³ — enforced loudly where cheap (n), documented where
  * not (|x|; embeddings are unit-ish by construction). */
object Pca {

  val Fp = 1048576L // 2^20

  /** Corpus mean (FP20) + unit principal direction (FP20). */
  case class Component(dim: Int, meanFp: Array[Long], dirFp: Array[Long]) {
    require(dim >= 1 && meanFp.length == dim && dirFp.length == dim,
      s"Pca.Component: dim $dim vs mean ${meanFp.length}/dir ${dirFp.length}")
  }

  /** Elementwise long-array sum as ONE map-side hash aggregate with
    * `dim` sum buffers — no positional explode: exploding shuffles
    * n×dim narrow rows where this ships one dim-wide partial per map
    * partition (measured 3.5× → 1.6× at 10× data on the q182 gate). */
  private def sumElements(vecs: DataFrame, arrCol: String,
                          dim: Int): Array[Long] = {
    val aggs = (0 until dim).map(j =>
      sum(element_at(col(arrCol), j + 1)).as(s"__u$j"))
    val row = vecs.agg(aggs.head, aggs.tail: _*).collect()(0)
    Array.tabulate(dim)(j => row.getLong(j))
  }

  /** (mean_fp per position, n, dim): one cheap shape scan (count +
    * uniform-length check), then one dim-wide sum aggregate. */
  private def meanAndCount(emb: DataFrame, vecCol: String)
  : (Array[Long], Long) = {
    val shape = emb.select(size(col(vecCol)).as("d"))
      .agg(count(lit(1)).as("n"), min(col("d")).as("lo"),
        max(col("d")).as("hi")).collect()(0)
    val n = shape.getLong(0)
    require(n > 0L, "Pca: empty corpus")
    require(n < Int.MaxValue.toLong,
      s"Pca: n = $n exceeds the documented exact-sum envelope (2^31)")
    require(shape.getInt(1) == shape.getInt(2),
      s"Pca: ragged vector lengths (${shape.getInt(1)}..${shape.getInt(2)}) " +
        "— uniform dimension required")
    val dim = shape.getInt(1)
    require(dim >= 1, "Pca: zero-length vectors")
    val sums = sumElements(emb.select(
      graft.functions.PcaNative.fp20(col(vecCol)).as("__fx")), "__fx", dim)
    // mean = sum DIV n, truncating toward zero (both engines)
    (sums.map(_ / n), n)
  }

  /** The power loop: per iteration ONE narrow kernel scan
    * ([[graft.functions.PcaNative.powerStep]] fuses encode + center +
    * deflation chain + dot + scale — the whole per-row chain the
    * composed form staged across 3+2·|prevDirs| interpreted HOFs) +
    * one dim-wide sum aggregate + a dim-row collect. */
  private def powerIterate(emb: DataFrame, vecCol: String,
                           mean: Array[Long], prevDirs: Seq[Array[Long]],
                           dim: Int, iters: Int): Array[Long] = {
    var w = Array.fill(dim)(math.floor(Fp / math.sqrt(dim)).toLong)
    for (_ <- 1 to iters) {
      val staged = emb.select(graft.functions.PcaNative
        .powerStep(col(vecCol), mean, prevDirs, w).as("__c"))
      val u = sumElements(staged, "__c", dim)
      val norm = math.sqrt(
        u.map(v => BigInt(v) * BigInt(v)).sum.toDouble)
      require(norm > 0.0,
        "Pca: degenerate iteration (u = 0) — constant or " +
          "rank-deficient corpus?")
      w = u.map(v => math.floor(v.toDouble / norm * Fp).toLong)
    }
    w
  }

  /** Top principal direction by `iters` power iterations from the
    * uniform start floor(2²⁰/√dim). Deterministic, partitioning-
    * invariant. */
  def topComponent(emb: DataFrame, idCol: String, vecCol: String,
                   iters: Int): Component =
    topComponents(emb, idCol, vecCol, r = 1, iters = iters).head

  /** Top `r` principal directions by power iteration with DATA
    * deflation (Hotelling-style, applied to the rows rather than the
    * covariance — after each component trains, every row loses its
    * component along it, and the next component trains on the
    * residuals; with the FP20 protocol the whole sequence stays
    * integer-exact and partitioning-invariant). Directions come back
    * in training order sharing one mean. Component i's coordinate is
    * DEFINED against the residual it trained on (see [[projectMany]])
    * — under fixed-point arithmetic directions are orthogonal only to
    * ~2⁻²⁰, so the residual projection is the protocol, not a detail.
    *
    * Cost: (r·iters + 1) corpus scans, each narrow; the deflation
    * chain adds one staged dot + one staged subtract per PREVIOUS
    * component inside the same scan — no extra action, no shuffle. */
  def topComponents(emb: DataFrame, idCol: String, vecCol: String,
                    r: Int, iters: Int): Seq[Component] = {
    require(r >= 1 && r <= 8,
      s"Pca: r must be in [1, 8]: $r — each component costs `iters` " +
        "corpus scans; raise the bound deliberately if needed")
    require(iters >= 1 && iters <= 20,
      s"Pca: iters must be in [1, 20]: $iters — each iteration is a " +
        "corpus scan; raise deliberately if needed")
    val (mean, _) = meanAndCount(emb, vecCol)
    val dim = mean.length
    require(r <= dim,
      s"Pca: r = $r exceeds the vector dimension $dim")
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    for (_ <- 0 until r) {
      dirs += powerIterate(emb, vecCol, mean, dirs.toSeq, dim, iters)
    }
    dirs.map(w => Component(dim, mean, w)).toSeq
  }

  /** PC1 projection score per row: (id, pc1) with
    * pc1 = ((cx·dir) DIV 2²⁰) / 2²⁰ — the centered coordinate along
    * the principal direction. One narrow scan. */
  def project(emb: DataFrame, idCol: String, vecCol: String,
              comp: Component): DataFrame = {
    val s = element_at(graft.functions.PcaNative.coords(col(vecCol),
      comp.meanFp, Seq(comp.dirFp), withRss = false), 1)
    emb.select(col(idCol).as("id"),
      (s.cast("double") / lit(Fp.toDouble)).as("pc1"))
  }

  /** Coordinates along EVERY component of a [[topComponents]] train,
    * in one narrow scan: (id, pc1 … pcr). Component i's coordinate is
    * the dot of the (i−1)-times-deflated residual with direction i —
    * the exact quantity component i trained on (directions are only
    * ~2⁻²⁰-orthogonal under fixed point, so projecting the RAW
    * centered vector would be a silently different protocol). */
  def projectMany(emb: DataFrame, idCol: String, vecCol: String,
                  comps: Seq[Component]): DataFrame = {
    require(comps.nonEmpty, "Pca.projectMany: no components")
    require(comps.forall(c => c.dim == comps.head.dim &&
        java.util.Arrays.equals(c.meanFp, comps.head.meanFp)),
      "Pca.projectMany: components must share one mean/dim — train " +
        "them together via topComponents")
    val ps = graft.functions.PcaNative.coords(col(vecCol),
      comps.head.meanFp, comps.map(_.dirFp), withRss = false)
    emb.select(col(idCol).as("id") +: comps.indices.map(i =>
      (element_at(ps, i + 1).cast("double") / lit(Fp.toDouble))
        .as(s"pc${i + 1}")): _*)
  }

  /** Variance explained per component: (component, ss, ratio) where
    * ss = Σ rows s_i² (s_i the residual-projection coordinate the
    * component trained on, FP20² units) and ratio = ss / ss_total
    * with ss_total = Σ rows Σ_j cx_j² — the "is PC1 actually the
    * common direction worth removing" audit before a corpus is
    * rewritten. ONE narrow scan: the per-row squared norm and
    * every coordinate compute in the same staged chain; per-row
    * squares are exact longs (envelope: |x| ≤ 90 keeps cx² < 2⁵³),
    * cross-row sums are exact DECIMAL(38,0); ss is emitted as the
    * IEEE double of that exact integer (identical rounding in any
    * engine), ratio one further IEEE division. */
  def varianceExplained(emb: DataFrame, idCol: String, vecCol: String,
                        comps: Seq[Component]): DataFrame = {
    require(comps.nonEmpty, "Pca.varianceExplained: no components")
    require(comps.forall(c => c.dim == comps.head.dim &&
        java.util.Arrays.equals(c.meanFp, comps.head.meanFp)),
      "Pca.varianceExplained: components must share one mean/dim — " +
        "train them together via topComponents")
    val xs = graft.functions.PcaNative.coords(col(vecCol),
      comps.head.meanFp, comps.map(_.dirFp), withRss = true)
    val df = emb.select(element_at(xs, 1).as("__rss") +:
      comps.indices.map(i => element_at(xs, i + 2).as(s"__p$i")): _*)
    val aggs = sum(col("__rss").cast("decimal(38,0)")).as("__sstot") +:
      comps.indices.map(i =>
        sum((col(s"__p$i") * col(s"__p$i")).cast("decimal(38,0)"))
          .as(s"__ss$i"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val sstot = row.getDecimal(0).doubleValue
    require(sstot > 0.0,
      "Pca.varianceExplained: zero total variance — constant corpus?")
    val spark = emb.sparkSession
    import spark.implicits._
    comps.indices.map { i =>
      val ss = row.getDecimal(i + 1).doubleValue
      (i + 1, ss, ss / sstot)
    }.toDF("component", "ss", "ratio")
  }
}
