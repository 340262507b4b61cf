package graft.operators

import graft.functions.VectorNative
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for ANN at memory scale (Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011 — public literature): split each d-dim vector into `m`
  * subvectors, k-means each subspace to `k` centroids, store each
  * vector as m small codes (m bytes at k ≤ 256) instead of d floats —
  * a 64-float embedding compresses 32× at m=8/k=16. Search is ADC
  * (asymmetric distance computation): the query stays UNquantized, a
  * per-query m×k table of exact subspace distances is built once, and
  * each candidate's approximate L2² is m table lookups.
  *
  * Scale shape: encoding is one narrow scan (per-subspace argmin via
  * the SAME native `nearest_centroid` kernel IVF uses — no new
  * expression); the code table is the only thing that persists or
  * shuffles (ids + m small ints, never vectors). ADC search broadcasts
  * the query batch WITH its precomputed distance tables (bounded by
  * [[MaxBroadcastQueries]], the IvfIndex guard) and scans codes — PQ
  * alone is deliberately an exhaustive compressed scan (that is its
  * contract: memory-bound, not candidate-bound); at 100 TB compose it
  * with [[IvfIndex]] cells (filter the code table to probed cells
  * first — codes carry the id, so the join is id-keyed and narrow).
  *
  * Training mirrors [[IvfIndex.train]]'s deterministic protocol
  * (bounded driver sample, first-k init, fixed Lloyd rounds) run
  * independently per subspace. */
object PqIndex {

  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty, "PQ model: no subspaces")
    require(codebooks.forall(_.nonEmpty), "PQ model: empty codebook")
    require(codebooks.forall(_.length == codebooks(0).length),
      "PQ model: ragged centroid counts across subspaces")
    require(codebooks.forall(cb => cb.forall(_.length == cb(0).length)),
      "PQ model: ragged centroid dimensions")
    /** Subspace count. */
    def m: Int = codebooks.length
    /** Centroids per subspace. */
    def k: Int = codebooks(0).length
    /** Dimensions per subspace. */
    def ds: Int = codebooks(0)(0).length
    /** Full embedding dimensionality this model quantizes. */
    def dim: Int = m * ds
  }

  /** Same bound and rationale as [[IvfIndex.MaxBroadcastQueries]]. */
  val MaxBroadcastQueries: Long = IvfIndex.MaxBroadcastQueries

  /** Deterministic per-subspace k-means over one driver-collected
    * sample (shared across subspaces — one collect, not m), drawn by
    * [[IvfIndex.sampleVectors]]'s id-hash order: deterministic AND
    * unbiased (a bare limit would see one shard's distribution on a
    * partitioned corpus — codebooks that mis-quantize every other
    * shard). */
  def train(corpus: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
            sampleSize: Int = 2000, iters: Int = 8): Model = {
    require(m > 0 && k > 0, s"PQ train: m=$m k=$k must be positive")
    val sample = IvfIndex.sampleVectors(corpus, idCol, vecCol, sampleSize)
    require(sample.length >= k, s"PQ train: need >= $k sample vectors")
    val dim = sample(0).length
    require(sample.forall(_.length == dim), "PQ train: ragged sample dims")
    require(dim % m == 0, s"PQ train: dim $dim not divisible by m=$m")
    val ds = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      var cent = sub.take(k).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](ds))
        val counts = new Array[Long](k)
        sub.foreach { v =>
          val c = nearestSub(cent, v)
          counts(c) += 1
          var i = 0
          while (i < ds) { sums(c)(i) += v(i); i += 1 }
        }
        cent = cent.indices.map { c =>
          if (counts(c) == 0) cent(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cent
    }
    Model(codebooks)
  }

  private def nearestSub(cent: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cent.length) {
      var d = 0.0
      var i = 0
      val w = cent(c)
      while (i < v.length) { val t = v(i) - w(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Persist a trained PQ model — the train-once/search-many shape
    * ([[IvfIndex.saveIndex]]'s pattern): one tiny parquet of
    * (subspace, centroid, values) rows; doubles round-trip bit-exact,
    * so a loaded model encodes and scores IDENTICALLY to the fresh one
    * (spec- and oracle-gated). The CODE TABLE is a plain DataFrame the
    * caller persists like any fact table (append new batches by
    * encoding them with the SAME loaded model — codes are only
    * meaningful against the codebooks they were assigned from). */
  def saveModel(model: Model, path: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (ct, c) => (j, c, ct.toSeq) }
    }.toSeq.toDF("subspace", "centroid", "values")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted model with structural validation: contiguous
    * subspace and centroid ids, uniform counts and dimensions (the
    * [[Model]] requires) — a corrupted or hand-edited table fails HERE,
    * not as garbage codes. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = org.apache.spark.sql.graftshim.ManifestRelation
      .readParquet(spark, path)
      .select(col("subspace").cast("int"), col("centroid").cast("int"),
        col("values").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"loadModel: empty PQ model at $path")
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    require(rows.length == m * k,
      s"loadModel: ${rows.length} rows != $m subspaces x $k centroids — " +
        s"non-contiguous ids or missing centroids in $path")
    val cb = Array.ofDim[Array[Double]](m, k)
    rows.foreach { case (j, c, v) =>
      require(j >= 0 && c >= 0 && cb(j)(c) == null,
        s"loadModel: duplicate (subspace=$j, centroid=$c) in $path")
      cb(j)(c) = v
    }
    Model(cb.map(_.toArray))
  }

  /** Encode: (pq_id, pq_code array<int> of length m) — one narrow scan,
    * per-subspace argmin through the native `nearest_centroid` kernel
    * (first index wins ties, dimension mismatches fail loudly per row,
    * same contract as IVF assignment). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
             model: Model): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val codes = array((0 until model.m).map { j =>
      VectorNative.nearestCentroid(
        slice(v, j * model.ds + 1, model.ds), model.codebooks(j).toSeq)
    }: _*)
    corpus.select(col(idCol).as("pq_id"), codes.as("pq_code"))
  }

  /** ADC top-k: per query build the m×k exact subspace distance table
    * once (query side — small, broadcast), then every candidate costs m
    * lookups. Output: (q_id, rank, n_id, adc) with adc = approximate
    * L2² rounded at 6 decimals, rank by (adc asc, n_id asc), self-match
    * excluded. Queries past [[MaxBroadcastQueries]] drop the broadcast
    * hint exactly like [[IvfIndex.search]]. */
  def search(codes: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, model: Model, kTop: Int): DataFrame =
    searchImpl(codes, queries, idCol, vecCol, model, kTop,
      IvfIndex.fitsBroadcast(queries, MaxBroadcastQueries))

  private def searchImpl(codes: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, model: Model, kTop: Int,
                         small: Boolean): DataFrame = {
    require(kTop > 0, s"PQ search: kTop must be positive: $kTop")
    val qv = col(vecCol).cast("array<double>")
    val dtab = graft.functions.PqNative.distTable(qv, model.codebooks.toSeq)
    val qdf = queries.select(col(idCol).as("q_id"), dtab.as("__dtab"))
    val qside = if (small) broadcast(qdf) else qdf
    val adc = (0 until model.m).map { j =>
      element_at(element_at(col("__dtab"), j + 1),
        element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    val scored = codes.crossJoin(qside)
      .where(col("q_id") =!= col("pq_id"))
      .select(col("q_id"), col("pq_id").as("n_id"), adc.as("__adc"))
    rankTop(scored, kTop)
  }

  /** The 100 TB composition: IVF cells prune the candidate set, PQ
    * codes compress the distance computation inside the probed cells —
    * the IVF-ADC shape from the PQ paper (IVFADC). `cells` is
    * [[IvfIndex.assign]]'s (n_id, …, cell) frame (or loaded postings);
    * only its (n_id, cell) columns are read, so the full vectors never
    * join. Probe selection is the same distributed `nearest_cells`
    * explode IVF search uses; the candidate join is cell-keyed, then
    * each survivor costs m table lookups. With nProbe = all cells this
    * degenerates to [[search]] exactly (the q159 oracle trick). */
  def searchInCells(codes: DataFrame, cells: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, ivf: IvfIndex.Model,
                    pq: Model, kTop: Int, nProbe: Int): DataFrame = {
    require(kTop > 0, s"PQ searchInCells: kTop must be positive: $kTop")
    require(pq.dim == ivf.dim,
      s"PQ searchInCells: PQ dim ${pq.dim} != IVF dim ${ivf.dim}")
    val qv = col(vecCol).cast("array<double>")
    val dtab = graft.functions.PqNative.distTable(qv, pq.codebooks.toSeq)
    val probes = queries.select(col(idCol).as("q_id"), dtab.as("__dtab"),
      explode(VectorNative.nearestCells(col(vecCol), ivf.centroids.toSeq,
        nProbe)).as("cell"))
    // The broadcast side is the EXPLODED probes frame — nProbe rows per
    // query, each carrying the m×k __dtab — so the guard caps query ROWS
    // at MaxBroadcastQueries/nProbe to bound the real broadcast payload,
    // not just the pre-explode row count.
    val small = IvfIndex.fitsBroadcast(queries,
      math.max(1L, MaxBroadcastQueries / math.max(1, nProbe)))
    val qside = if (small) broadcast(probes) else probes
    val cand = codes
      .join(cells.select(col("n_id").as("pq_id"), col("cell")), Seq("pq_id"))
      .join(qside, Seq("cell"))
      .where(col("q_id") =!= col("pq_id"))
    val adc = (0 until pq.m).map { j =>
      element_at(element_at(col("__dtab"), j + 1),
        element_at(col("pq_code"), j + 1) + 1)
    }.reduce(_ + _)
    rankTop(cand.select(col("q_id"), col("pq_id").as("n_id"),
      adc.as("__adc")), kTop)
  }

  /** PQ shortlist → EXACT re-rank — the production retrieval tail:
    * ADC distances are quantized approximations, so real pipelines take
    * a generous PQ shortlist (`shortlist` ≥ 3–10× kTop) and re-score
    * just those candidates against the RAW vectors. The expensive exact
    * arithmetic runs on |queries|×shortlist rows instead of the corpus;
    * the corpus-side join back to vectors is id-keyed. Output:
    * (q_id, rank, n_id, l2sq) by exact squared L2, self excluded. With
    * `shortlist` ≥ |corpus| this IS exact brute-force search (the q160
    * oracle identity); at realistic shortlists the result is contained
    * in it (spec-gated). */
  def searchRerank(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, model: Model,
                   kTop: Int, shortlist: Int): DataFrame = {
    require(shortlist >= kTop,
      s"PQ rerank: shortlist $shortlist < kTop $kTop")
    // One guard decision for BOTH stages: the shortlist search's query
    // broadcast and the re-rank join's query-vector broadcast carry the
    // same |queries| rows, so an over-bound query table degrades both to
    // shuffle joins instead of passing the first guard and then OOMing
    // the driver in the re-rank stage.
    val small = IvfIndex.fitsBroadcast(queries, MaxBroadcastQueries)
    val short = searchImpl(codes, queries, idCol, vecCol, model, shortlist,
      small)
      .select(col("q_id"), col("n_id"))
    val qv = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val nv = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("__nv"))
    val qvSide = if (small) broadcast(qv) else qv
    // native ordered-fold L2² (r19): the composed aggregate(zip_with(…))
    // here sat on the DATA side — interpreted per candidate row; the
    // kernel is the identical fold (PqNativeEquivalenceSpec), codegen'd
    val exact = short.join(qvSide, Seq("q_id")).join(nv, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.PqNative.l2sqFold(col("__qv"), col("__nv"))
          .as("__adc"))
    rankTop(exact, kTop)
      .withColumnRenamed("adc", "l2sq")
  }

  /** Per-query top-k reduction. Routed through the native
    * [[graft.plans.TopKPerKeyExec]] bounded heaps when the strategy is
    * installed ([[Similarity.topKRank]]'s contract): the partial stage
    * keeps ≤ kTop rows per query per partition BEFORE the exchange, so
    * the exhaustive-ADC [[search]]'s |codes|×|queries| scored product
    * never shuffles onto the |queries| partitions a window formulation
    * would force — the exchange carries ≤ queries×k rows. Window
    * fallback for plain sessions; identical output (row_number
    * semantics, same (__adc asc, n_id asc) tiebreak). */
  private def rankTop(scored: DataFrame, kTop: Int): DataFrame = {
    val native = scored.sparkSession.sessionState.planner.strategies
      .contains(graft.plans.TopKStrategy)
    val ranked =
      if (native)
        graft.plans.TopK.perKey(scored, Seq("q_id"),
          Seq(graft.plans.TopK.Sort("__adc"), graft.plans.TopK.Sort("n_id")), kTop)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q_id")).orderBy(col("__adc"), col("n_id"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= kTop)
      }
    ranked.select(col("q_id"), col("rank"), col("n_id"),
      round(col("__adc"), 6).as("adc"))
  }
}
