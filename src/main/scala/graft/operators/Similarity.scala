package graft.operators

import graft.functions.VectorNative
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * - `bruteTopK` is the exact baseline: broadcast the (small) query set,
  *   one pass over the corpus, per-query top-k via window rank. Corpus is
  *   never shuffled by vector — only the (queryId, candidates) pairs move.
  * - `lshTopK` is the scale path: bucket both sides by random-hyperplane
  *   sign bits and only compare within a bucket (probing all buckets within
  *   0 flipped bits here; widen by flipping bits for higher recall).
  */
object Similarity {

  /** Per-query top-k ranking of a scored candidate frame. Uses the native
    * [[graft.plans.TopKPerKeyExec]] operator (partial heaps before the
    * exchange — shuffle carries ≤ queries×k rows instead of every
    * candidate) when its strategy is installed in the session; falls back
    * to the window formulation otherwise. Identical output by
    * construction (row_number semantics, same tiebreak). */
  private[graft] def topKRank(scored: DataFrame, k: Int): DataFrame = {
    val native = scored.sparkSession.sessionState.planner.strategies
      .contains(graft.plans.TopKStrategy)
    val ranked =
      if (native)
        graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq(graft.plans.TopK.Sort("cos", desc = true), graft.plans.TopK.Sort("n_id")), k)
      else {
        val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
        scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      }
    ranked.select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Exact top-k cosine neighbors for each query row (queries ⊆ corpus by
    * id, or any frame with the same id/vec columns). Excludes self-pairs.
    *
    * Both sides are L2-normalized ONCE at the scan (O(rows)), so the
    * quadratic scoring step is a bare ordered-fold dot product — 3× fewer
    * multiply-adds per (query, candidate) pair than recomputing norms
    * inside the cosine. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      graft.functions.VectorNative.l2Normalize(col(vecCol)).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"),
      graft.functions.VectorNative.l2Normalize(col(vecCol)).as("n_vec"))
    val scored = c.crossJoin(q).where(col("q_id") =!= col("n_id"))
      .withColumn("cos", graft.functions.VectorNative.dotProduct(col("q_vec"), col("n_vec")))
    topKRank(scored, k)
  }

  /** Contrastive triplet mining over an embedding table: per query,
    * positive = the exact nearest neighbor (rank 1), hard negative = the
    * strongest candidate just OUTSIDE the top-`m` (rank m+1) — the
    * classic hard-negative rule: similar enough to be informative,
    * excluded from the positive set by a margin of m ranks. Queries with
    * fewer than m+1 candidates drop (no fabricated negatives).
    *
    * Exactness/scale: this is the verify-stage EXACT path ([[bruteTopK]]
    * underneath — normalized once, ordered-fold dots, bounded-heap
    * ranking); at corpus scale run the identical rank-1 / rank-(m+1)
    * selection over [[graft.operators.IvfIndex]] or LSH candidates
    * instead — the selection composes with any ranked candidate frame. */
  def tripletMine(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1: $m")
    val ranked = bruteTopK(corpus, queries, idCol, vecCol, m + 1)
    val pos = ranked.where(col("rank") === 1)
      .select(col("q_id"), col("n_id").as("pos_id"), col("cos").as("pos_cos"))
    val neg = ranked.where(col("rank") === m + 1)
      .select(col("q_id"), col("n_id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, Seq("q_id"))
  }

  /** Deterministic pseudo-random hyperplanes: weight(plane j, dim i) derived
    * from a fixed integer hash, in [-1, 1]. No RNG — reproducible. */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        val h = (j * 2654435761L + i * 40503L + 2166136261L) & 0xffffffffL
        (h.toDouble / 0xffffffffL.toDouble) * 2.0 - 1.0
      }
    }

  /** Embedding-cosine near-duplicate pairs (d1 < d2, cosine >= threshold).
    * nPlanes = 0 → exact all-pairs (quadratic; small corpora / verify
    * stage); nPlanes > 0 → LSH-bucketed candidates first (the scale path;
    * recall = P(same bucket) = (1 - θ/π)^nPlanes for angle θ, so keep
    * nPlanes small for mid-similarity thresholds). */
  def cosineDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nPlanes: Int = 0, dim: Int = 64): DataFrame = {
    // Normalize once at the scan; buckets hash the RAW vector (sign bits
    // are scale-invariant, and the oracle buckets the raw vector too).
    def side(id: String, v: String): DataFrame = {
      val base = corpus.select(col(idCol).as(id),
        graft.functions.VectorNative.l2Normalize(col(vecCol)).as(v),
        col(vecCol).as("__raw"))
      if (nPlanes <= 0) base.drop("__raw")
      else base.withColumn("bucket",
        VectorNative.planeBits(col("__raw"), planes(nPlanes, dim))).drop("__raw")
    }
    val a = side("d1", "v1")
    val b = side("d2", "v2")
    val paired =
      if (nPlanes <= 0) a.crossJoin(b)
      else a.join(b, Seq("bucket"))
    paired.where(col("d1") < col("d2"))
      .withColumn("cos", graft.functions.VectorNative.dotProduct(col("v1"), col("v2")))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
  }

  /** Occupancy-derived LSH plane count: the smallest `p` in
    * [`minPlanes`, `maxPlanes`] with expected bucket occupancy
    * `n / 2^p <= targetBucket` (uniform sign bits — measured within 2×
    * on the synthetic corpus, and [[lshRecallReport]] is the check when
    * the distribution is in doubt).
    *
    * This is what makes the bucketed near-dup path hold its cost shape
    * under corpus growth: at FIXED `nPlanes`, 10× vectors ⇒ 10× bucket
    * occupancy ⇒ ~100× within-bucket candidate pairs (measured 17× time
    * for 10× data at sf1.0 — SCALE.md); with the occupancy-derived
    * count, buckets stay ~`targetBucket` and candidates grow ~linearly
    * (n/2^p buckets × occupancy² ≈ n·targetBucket).
    *
    * The tradeoff is explicit: each added plane multiplies per-pair
    * recall by (1 - θ/π) — growing the corpus 10× costs ~log2(10) ≈ 3-4
    * planes of recall. Callers pinning a recall floor should bound
    * `maxPlanes` (recall ≥ (1-θ/π)^maxPlanes) and verify with
    * [[lshRecallReport]] on a sample.
    *
    * Integer arithmetic only (`targetBucket << p`, never `log2`):
    * engine-portable, so an oracle reproduces the exact count. */
  def autoPlanes(n: Long, targetBucket: Int = 64, minPlanes: Int = 1,
                 maxPlanes: Int = 24): Int = {
    require(targetBucket >= 1, s"targetBucket must be >= 1: $targetBucket")
    require(minPlanes >= 1 && minPlanes <= maxPlanes,
      s"need 1 <= minPlanes <= maxPlanes: $minPlanes..$maxPlanes")
    require(maxPlanes <= 62, s"maxPlanes too large for a long shift: $maxPlanes")
    var p = minPlanes
    while (p < maxPlanes && n > (targetBucket.toLong << p)) p += 1
    p
  }

  /** [[cosineDupPairs]] with the plane count derived from the corpus
    * itself (one count(*) — bounded driver state) instead of a caller
    * guess: the self-tuning entry point, so a re-run after the corpus
    * grows 10× re-targets bucket occupancy automatically instead of
    * silently going quadratic at yesterday's `nPlanes`. */
  def cosineDupPairsAuto(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, targetBucket: Int = 64,
                         minPlanes: Int = 1, maxPlanes: Int = 24,
                         dim: Int = 64): DataFrame = {
    val np = autoPlanes(corpus.count(), targetBucket, minPlanes, maxPlanes)
    cosineDupPairs(corpus, idCol, vecCol, threshold, np, dim)
  }

  /** Semantic (embedding-space) dedup: drop every vector that has a
    * cosine >= `threshold` neighbor with a SMALLER id. Dominance
    * semantics — NOT transitive clustering — so the survivor set is
    * deterministic and order-free: a row survives iff no earlier row is
    * its near-duplicate, regardless of what happens to that earlier row.
    * (For cluster-then-keep-one semantics, feed [[cosineDupPairs]] into
    * [[Dedup.components]].)
    *
    * `nPlanes = 0` compares exactly (quadratic — verify scale);
    * `nPlanes > 0` restricts to LSH sign-buckets (the 100 TB path: only
    * bucket-mates shuffle together, recall tunable by plane count).
    *
    * @return surviving rows of `corpus`, all original columns. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nPlanes: Int = 0, dim: Int = 64): DataFrame = {
    val dominated = cosineDupPairs(corpus, idCol, vecCol, threshold, nPlanes, dim)
      .select(col("d2").as("__dom")).distinct()
    corpus.join(dominated, corpus(idCol) === col("__dom"), "left_anti")
  }

  /** Recall audit for the LSH-bucketed near-dup path: at the SAME
    * threshold the bucketed pair set is a strict subset of the exact one
    * (bucketing only prunes candidates; the cosine filter is identical),
    * so recall = |lsh pairs| / |exact pairs| — two counts, no pair join.
    * Run at a sampled scale to pick `nPlanes` BEFORE committing a 100 TB
    * dedup to a recall you guessed: (1 - θ/π)^nPlanes is the per-pair
    * theory, this is the measurement on the actual distribution. */
  def lshRecallReport(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nPlanes: Int, dim: Int = 64): DataFrame = {
    require(nPlanes > 0, s"nPlanes must be positive (got $nPlanes): " +
      "recall of the exact path is 1 by definition")
    val exact = cosineDupPairs(corpus, idCol, vecCol, threshold, nPlanes = 0, dim)
      .agg(count(lit(1)).as("n_exact"))
    val lsh = cosineDupPairs(corpus, idCol, vecCol, threshold, nPlanes, dim)
      .agg(count(lit(1)).as("n_lsh"))
    exact.crossJoin(lsh).select(col("n_exact"), col("n_lsh"),
      when(col("n_exact") === 0, lit(1.0))
        .otherwise(round(col("n_lsh").cast("double") / col("n_exact"), 6))
        .as("recall"))
  }

  /** LSH-bucketed ANN: compare only within matching sign-bucket. Recall is
    * tunable via nPlanes (fewer planes = bigger buckets = higher recall,
    * more compute). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int, dim: Int): DataFrame = {
    val ps = planes(nPlanes, dim)
    val qb = queries.select(col(idCol).as("q_id"),
      graft.functions.VectorNative.l2Normalize(col(vecCol)).as("q_vec"),
      VectorNative.planeBits(col(vecCol), ps).as("bucket"))
    val cb = corpus.select(col(idCol).as("n_id"),
      graft.functions.VectorNative.l2Normalize(col(vecCol)).as("n_vec"),
      VectorNative.planeBits(col(vecCol), ps).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", graft.functions.VectorNative.dotProduct(col("q_vec"), col("n_vec")))
    topKRank(scored, k)
  }

  /** Embedding-space decontamination: the semantic complement of the
    * n-gram pass ([[Dedup.decontaminate]]) — drop every corpus row whose
    * embedding is within `threshold` cosine of ANY eval-set vector
    * (paraphrased benchmark leakage that exact shingles can't see).
    *
    * Scale shape: the eval set broadcasts (benchmarks are tiny vs a
    * 100 TB corpus); both sides L2-normalize ONCE so the pairwise test is
    * a bare ordered-fold dot product; the broadcast-nested-loop LEFT ANTI
    * stops probing a corpus row at its FIRST contaminated hit. The corpus
    * never shuffles.
    *
    * @return the clean subset of `corpus`, all original columns. */
  def decontaminateByEmbedding(corpus: DataFrame, evalSet: DataFrame,
                               vecCol: String, threshold: Double): DataFrame = {
    val ev = broadcast(evalSet.select(
      graft.functions.VectorNative.l2Normalize(col(vecCol)).as("__ev")))
    val normed = corpus.withColumn("__cv",
      graft.functions.VectorNative.l2Normalize(col(vecCol)))
    normed.join(ev,
        graft.functions.VectorNative.dotProduct(col("__cv"), col("__ev"))
          >= threshold, "left_anti")
      .drop("__cv")
  }

  /** Per-group centroid drift between two corpus versions — the
    * distribution-shift monitor a training-data pipeline runs between
    * crawls or after a filtering pass: for each `labelCol` group,
    * cosine between version A's and version B's centroid embedding. A
    * drift of 1.0 means the group's mean direction is unchanged; the
    * further below 1, the more the filter/crawl moved it.
    *
    * Determinism protocol (the q87 micro-unit discipline applied to
    * vectors): each element quantizes to an exact integer
    * `floor(x · 2^20)` BEFORE any aggregation, so the per-(group, pos)
    * component sums are exact integers regardless of row order and
    * partitioning; cross-position reduction of the 3 quadratic forms
    * (dot, |a|², |b|²) sums exact `DECIMAL(38,0)` products of those
    * integers; ONE final fixed IEEE sequence (`dot / (√na · √nb)`)
    * produces the double. Cosine is scale-invariant, so centroid
    * division by the group count cancels and is never computed —
    * the sums ARE the centroids up to scale.
    *
    * Scale shape: one narrow posexplode per side (rows × dim, bytes per
    * row), partial-aggregated `groupBy(label, pos)` — the only
    * exchanges carry (label, pos, long) triples, never vectors — then a
    * |labels|×dim-sized final reduce. No broadcast of anything
    * corpus-sized; group skew is irrelevant because the heavy aggregate
    * is keyed by (label, pos), dim-times finer than the label. Output:
    * (label, n_a, n_b, drift_cos). Groups present in only one version
    * are absent from the output (inner join on label) — surface them
    * with a frame-level anti join if needed. Mismatched embedding
    * DIMENSIONALITY between the versions (a re-embedding — the change
    * a drift monitor must not paper over) fails LOUDLY at execution:
    * a position present in only one side would silently truncate the
    * cosine to the shared subspace, so the join is full-outer on pos
    * within a shared label and a one-sided position raises. */
  def embeddingDrift(a: DataFrame, b: DataFrame,
                     labelCol: String, vecCol: String): DataFrame = {
    def microSums(df: DataFrame, sumName: String, cntName: String): DataFrame =
      df.select(col(labelCol).as("label"),
          posexplode(col(vecCol)).as(Seq("pos", "__v")))
        .select(col("label"), col("pos"),
          floor(col("__v").cast("double") * (1 << 20)).cast("long").as("__m"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("__m")).as(sumName),
          count(lit(1)).as(cntName))
    // operands go to DECIMAL(19,0) BEFORE the multiply: component sums
    // reach micro·rows ≈ 2^34 at modest scale, so a long×long product
    // would overflow 2^63 silently; decimal(19)×decimal(19) widens to
    // decimal(38,0) losslessly
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val labelsBoth = microSums(a, "sa", "ca")
      .join(microSums(b, "sb", "cb"), Seq("label", "pos"), "full_outer")
    // decide mismatches at LABEL level: a label absent from one version
    // entirely (all-NULL totals on that side) drops per the contract; a
    // label present in BOTH whose positions disagree raises
    val perLabel = labelsBoth
      .groupBy(col("label"))
      .agg(
        sum(col("sa").cast(d19) * col("sb").cast(d19)).as("__dot"),
        sum(col("sa").cast(d19) * col("sa").cast(d19)).as("__na"),
        sum(col("sb").cast(d19) * col("sb").cast(d19)).as("__nb"),
        count(when(col("sa").isNull || col("sb").isNull, 1)).as("__onesided"),
        max(col("ca")).as("n_a"), max(col("cb")).as("n_b"))
    // overflow is loud, not NULL: the quadratic-form sums live in
    // DECIMAL(38,0), and with ANSI off a sum overflow returns NULL
    // silently. In the surviving branch (label on both sides, zero
    // one-sided positions) every summand is non-null, so a NULL sum can
    // ONLY mean |Σ products| ≥ 10^38 — raise instead of emitting a NULL
    // drift_cos. (Residual headroom: micro-sums reach ~2^20·rows per
    // (label,pos), so products pass 10^38 only around 10^13 rows per
    // label·position — but "can't happen" is exactly what this guards.)
    val overflow = col("__dot").isNull || col("__na").isNull || col("__nb").isNull
    perLabel
      .where(col("n_a").isNotNull && col("n_b").isNotNull)
      .select(col("label"), col("n_a"), col("n_b"),
        when(col("__onesided") > 0, raise_error(concat(
          lit("embeddingDrift: embedding dimensionality differs between "),
          lit("versions for label "), col("label").cast("string")))
          .cast("double"))
          .when(overflow, raise_error(concat(
            lit("embeddingDrift: decimal(38,0) sum overflow for label "),
            col("label").cast("string"),
            lit(" — quadratic forms exceed 10^38; shard the label or "),
            lit("rescale the embeddings"))).cast("double"))
          .otherwise(col("__dot").cast("double") /
            (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
          .as("drift_cos"))
  }

  /** Embedding-space outlier audit: the vectors FURTHEST from their
    * label's centroid — mislabeled rows, encoder failures, and the
    * garbage embeddings that poison both ANN recall and classifier
    * training surface at the top of this list. Runs on the repo's
    * exact-integer discipline end to end: elements quantize to
    * ⌊x·10⁴⌋ longs in the scan (float→double→floor, bit-identical on
    * any engine), per-(label, dim) centroid moments are exact decimal
    * sums, and the ranking metric is the INTEGER quantity
    * d2·n² = Σ_dim (n·x_q − S_dim)² — centroid division never happens,
    * so no float enters until the one reported distance
    * (√(d2n2)/(n·10⁴), rounded at 6).
    *
    * Scale shape: one posexplode scan (|vecs|·dim narrow rows) → a
    * (label, dim)-keyed map-side moment aggregate (dim·|labels| rows,
    * broadcast back) → a vec-keyed distance aggregate → top-k per
    * label through the native TopKPerKey heaps when installed (window
    * fallback) ranked by the double rendering of d2n2 (ties broken by
    * id; a double collision of distinct ≥2⁵³ integers ties both
    * engines identically — same IEEE value).
    *
    * @return (label, rank, vec_id, dist) — top `topK` per label. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
                       labelCol: String, topK: Int): DataFrame = {
    require(topK >= 1 && topK <= 100000,
      s"centroidOutliers: topK must be in [1, 100000]: $topK")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = emb
      .select(col(idCol).as("vec_id"), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * 10000.0).cast("long").as("xq"))
      .localCheckpoint()
    val cent = q.groupBy(col("label"), col("dim"))
      .agg(sum(col("xq").cast(d38)).as("__s"), count(lit(1)).as("__n"))
    val dist = q.join(broadcast(cent), Seq("label", "dim"))
      .withColumn("__t",
        col("__n").cast(d38) * col("xq").cast(d38) - col("__s"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("__t") * col("__t")).as("__d2"), max(col("__n")).as("__n"))
      .withColumn("__dd", col("__d2").cast("double"))
    val native = dist.sparkSession.sessionState.planner.strategies
      .contains(graft.plans.TopKStrategy)
    val ranked =
      if (native)
        graft.plans.TopK.perKey(dist, Seq("label"),
          Seq(graft.plans.TopK.Sort("__dd", desc = true),
            graft.plans.TopK.Sort("vec_id")), topK)
      else {
        val w = Window.partitionBy(col("label"))
          .orderBy(col("__dd").desc, col("vec_id"))
        dist.withColumn("rank", row_number().over(w))
          .where(col("rank") <= topK)
      }
    ranked.select(col("label"), col("rank"), col("vec_id"),
      round(sqrt(col("__dd")) / (col("__n").cast("double") * 10000.0), 6)
        .as("dist"))
  }
}
