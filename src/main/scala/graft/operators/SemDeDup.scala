package graft.operators

import graft.functions.VectorNative
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication over an embedding column (Abbas,
  * Tirumala, Simig, Ganguli & Morcos, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication",
  * arXiv:2303.09540 — public literature): cluster the embedding space
  * with k-means, then inside each cluster drop every example whose
  * cosine similarity to a KEPT example reaches `tau`. Where MinHash
  * catches lexical near-copies, this catches semantic ones — the same
  * paragraph paraphrased, boilerplate re-worded per site — which is
  * why web-scale training-data pipelines run both.
  *
  * Relation to [[Similarity.semanticDedup]] (the LSH-bucketed
  * dominance dedup): that operator drops a row iff ANY smaller-id
  * vector corpus-wide is `tau`-similar — global semantics, recall
  * bounded by the hyperplane buckets. This one is the paper's
  * cluster-CONFINED contract: candidates are only compared inside
  * their k-means cell (a deliberate approximation that buys bounded
  * quadratic work), the keeper is chosen by centroid-distance (cluster
  * edges survive, preserving diversity), and within a cell the verify
  * is exhaustive, not bucket-limited.
  *
  * Keeper rule (the paper's, made exact): within a duplicate group,
  * keep the example with the LOWEST cosine similarity to its cluster
  * centroid — survivors sit at cluster edges, preserving diversity.
  * Implemented as a greedy DOMINANCE rule: order each cluster by
  * (centroid-cosine asc, id asc); an example is DROPPED iff ANY
  * earlier example in that order — kept or itself dropped — is
  * `tau`-similar to it. This is deliberately NOT the kept-only greedy
  * prefix scan: on a non-transitive chain a→b→c with sim(a,b) ≥ tau,
  * sim(b,c) ≥ tau but sim(a,c) < tau, kept-only greedy keeps {a, c}
  * while dominance keeps {a} alone. The paper's prose ("keep the
  * lowest-centroid-similarity example of each duplicate group") pins
  * neither variant — duplicate "groups" aren't transitive closures in
  * its pseudocode either. Dominance is the one chosen here because it
  * is order-free and states as ONE anti-join (no sequential per-cell
  * scan, no iteration), and both the q166 oracle and SemDeDupSpec pin
  * exactly this rule.
  *
  * Scale shape (100 TB): the quadratic verify is confined inside
  * clusters — one shuffle keyed on cell, candidate volume Σ|cell|²
  * instead of |corpus|² (the paper runs ~50k clusters over 5B
  * embeddings for this reason; pick k ≈ corpus/10⁴ so cells stay
  * partition-sized). Vectors are L2-normalized ONCE at the scan, the
  * cell-keyed self-join ships (id, nv, cell, csim) only — never the
  * original rows — and survivors rejoin the input by id (id-keyed,
  * narrow). Centroids are bounded literals inside codegen'd native
  * expressions ([[graft.functions.VectorNative]]), so assignment and
  * centroid-cosine are one narrow scan with no join against a
  * centroid table. */
object SemDeDup {

  /** Default bound on the within-cell candidate mass Σ|cell|·(|cell|−1)
    * (ordered pairs — each unordered candidate pair counts twice, once
    * per direction of the dominance predicate). 2²⁶ ≈ 67M ordered pairs
    * × one dim-length dot each ≈ a few seconds of codegen'd verify work
    * on one node and a bounded join payload everywhere. Past it, the
    * model is the problem, not the bound: the paper sizes k ≈ corpus/10⁴
    * precisely so cells stay small — a mass this high means too few
    * cells or a skewed training sample, and silently paying Σ|cell|² is
    * the |corpus|² shape this operator exists to avoid. Raise it only
    * deliberately (the worst-case measure in SCALE.md round 13 does,
    * with `Long.MaxValue`). */
  val DefaultMaxCellPairs: Long = 1L << 26

  /** Deduplicate `emb` against itself: returns the SURVIVING input rows
    * (all original columns, original values). `model` supplies the
    * cluster centroids ([[IvfIndex.train]]'s output or any fixed
    * centroid set — centroids are L2-normalized here, so on unit
    * vectors nearest-by-L2 is nearest-by-cosine); `tau` is the cosine
    * threshold at or above which two same-cluster examples are
    * duplicates. Vectors must be non-null, non-empty, and
    * dimension-consistent with the model (the native kernels fail
    * loudly per row otherwise — same contract as the ANN family).
    *
    * Loud cell-mass guard (the [[Dedup]] candidate-mass discipline):
    * before the cell-keyed anti-join, ONE aggregate over the assigned
    * cells computes the candidate mass Σ|cell|·(|cell|−1) and the
    * hottest cell's share; past `maxCellPairs` the call refuses with
    * the numbers and the fix (train more cells) instead of silently
    * running a quadratic verify a skewed model smuggled in. The probe
    * is one narrow extra scan (cell ids only — no norms, no csim),
    * same price class as the LSH family's routing probe. */
  def dedup(emb: DataFrame, idCol: String, vecCol: String,
                    model: IvfIndex.Model, tau: Double,
                    maxCellPairs: Long = DefaultMaxCellPairs): DataFrame = {
    require(tau > 0.0 && tau <= 1.0,
      s"SemDeDup: tau must be in (0, 1]: $tau")
    require(maxCellPairs >= 0, s"SemDeDup: maxCellPairs < 0: $maxCellPairs")
    val cents: Seq[Array[Double]] = model.centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      require(n > 0.0, "SemDeDup: zero-vector centroid")
      c.map(_ / n)
    }.toSeq
    val nv = VectorNative.l2Normalize(col(vecCol).cast("array<double>"))
    val cell = VectorNative.nearestCentroid(nv, cents)
    // centroid-cosine via a when-chain on the already-computed cell:
    // one dot per row (the matched branch), not k — the argmin already
    // paid the k-dot scan.
    val csim: Column = cents.zipWithIndex.tail
      .foldLeft(when(col("__cell") === 0,
        VectorNative.dotProduct(col("__nv"), typedlit(cents.head.toSeq)))) {
        case (acc, (c, i)) => acc.when(col("__cell") === i,
          VectorNative.dotProduct(col("__nv"), typedlit(c.toSeq)))
      }
    // cell-mass probe: sum + hottest in one aggregate over cell ids only
    val probe = emb.select(cell.as("__cell"))
      .groupBy(col("__cell")).agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(col("n") * (col("n") - lit(1L))), lit(0L)).as("mass"),
        max(struct((col("n") * (col("n") - lit(1L))).as("m"),
          col("__cell").as("cell"))).as("hot"))
      .head()
    val mass = probe.getLong(0)
    if (mass > maxCellPairs) {
      val hot = probe.getStruct(1)
      throw new IllegalArgumentException(
        s"SemDeDup: within-cell candidate mass $mass ordered pairs " +
          s"(Σ|cell|·(|cell|−1) over ${model.centroids.length} cells) " +
          s"exceeds maxCellPairs=$maxCellPairs; hottest cell " +
          s"${hot.getInt(1)} alone contributes ${hot.getLong(0)}. " +
          "Train more cells (the paper sizes k ≈ corpus/10⁴ so cells " +
          "stay ~10⁴-sized) or raise maxCellPairs deliberately.")
    }
    val slim = emb
      .select(col(idCol).as("__sd_id"), nv.as("__nv"), cell.as("__cell"))
      .withColumn("__csim", csim)
    // greedy dominance: drop a iff an earlier-ordered same-cell b is
    // tau-similar. Cell equality keys the join; the order predicate and
    // the cosine threshold ride as join filters inside the cell.
    val b = slim.select(col("__sd_id").as("__b_id"), col("__nv").as("__b_nv"),
      col("__cell").as("__b_cell"), col("__csim").as("__b_csim"))
    val survivors = slim.join(b,
        col("__b_cell") === col("__cell") &&
          (col("__b_csim") < col("__csim") ||
            (col("__b_csim") === col("__csim") &&
              col("__b_id") < col("__sd_id"))) &&
          VectorNative.dotProduct(col("__nv"), col("__b_nv")) >= lit(tau),
        "left_anti")
      .select(col("__sd_id"))
    emb.join(survivors, emb(idCol) === col("__sd_id"), "left_semi")
  }
}
