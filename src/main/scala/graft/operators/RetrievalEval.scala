package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Offline retrieval-quality evaluation — the measurement loop every
  * retrieval stack (BM25 / ANN / hybrid RRF) needs before its knobs
  * (nProbe, kEach, k0, tau) can be tuned: given a ranked run and a
  * relevance-judgment table, score recall@k, MRR@k, and nDCG@k per
  * query plus the macro average (standard IR metrics — Manning,
  * Raghavan & Schütze, "Introduction to Information Retrieval", CUP
  * 2008, ch. 8 — public literature).
  *
  * Scale shape (100 TB): runs are ALREADY-REDUCED top-k lists
  * (≤ |queries|×k rows) and qrels are judgment-sized; every join here
  * is keyed on (q_id, n_id) over those bounded frames, never a corpus.
  * One hash aggregate per query, one tiny macro aggregate. The
  * expensive part was producing the run — scoring it is free.
  *
  * Score contract (the q87 micro-unit rule): each rank's discount
  * contribution rounds half-up at 6 decimals BEFORE summing
  * (`round(1/log2(rank+1), 6)` — ln only ever feeds a rounded step,
  * the q74 sub-ulp discipline), sums are exact decimal arithmetic,
  * and every emitted ratio is one exact IEEE division of micro-integer
  * sums — a DuckDB oracle replays every value bit for bit.
  *
  * Binary relevance: a (q_id, n_id) pair present in `qrels` is
  * relevant, absent is not (graded nDCG would weight contributions by
  * grade; the binary ideal-DCG normalizer is the min(|rel|, k) prefix).
  * Queries with NO judged-relevant documents are excluded from
  * per-query output and the macro denominator (the trec_eval
  * convention) — scoring them would divide by zero recall-wise and
  * silently reward empty runs. */
object RetrievalEval {

  private def micro(c: Column): Column =
    round(c, 6).cast("decimal(18,6)")

  /** Per-query metrics of `run` (columns q_id, rank, n_id — the shape
    * every searcher in this repo emits) against `qrels` (q_id, n_id).
    * Output: (q_id, n_rel, hits, recall, mrr, ndcg), one row per query
    * with ≥ 1 judged-relevant document:
    *
    *  - `n_rel`: judged-relevant count for the query;
    *  - `hits`: relevant documents inside the top-k run;
    *  - `recall` = hits / min(n_rel, k) — "recall at the achievable
    *    cut" (a run cut at k cannot retrieve more than k);
    *  - `mrr` = 1 / (first relevant rank), 0 when none retrieved;
    *  - `ndcg` = Σ_{relevant hits} round(1/log2(rank+1), 6) divided by
    *    the ideal prefix Σ_{r=1..min(n_rel,k)} round(1/log2(r+1), 6).
    *
    * Run ranks beyond `k` are ignored (evaluating a deeper run at a
    * shallower cut is the common sweep shape). Duplicate (q_id, n_id)
    * rows in qrels are collapsed; a duplicate n_id inside one query's
    * run double-counts — producing rank lists with distinct candidates
    * is the searcher's contract (every searcher here satisfies it). */
  def perQuery(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"RetrievalEval: k must be positive: $k")
    val cut = run.select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"))
      .where(col("rank") <= k)
    val rels = qrels.select(col("q_id"), col("n_id")).distinct()
    val nRel = rels.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_rel"))
    // judged hits inside the cut, with their ranks
    val hits = cut.join(rels, Seq("q_id", "n_id"))
    // all ratios follow ONE floor protocol both engines state verbatim:
    // floor(numer_micro * 1e6 / denom_micro) / 1e6 on exact long micros
    // (magnitudes ≤ k·10¹² — doubles are exact there), so neither
    // engine's decimal-division or double→int rounding rules are in
    // play — only IEEE division and an explicit floor.
    val disc = (micro(lit(1.0) / log2(col("rank").cast("double") + 1.0))
      * 1000000).cast("long")
    val perQ = hits.groupBy(col("q_id"))
      .agg(count(lit(1)).as("hits"),
        min(col("rank")).as("__first"),
        sum(disc).as("__dcg"))
    // ideal DCG for n judged-relevant at cut k: the same rounded
    // discounts over ranks 1..min(n,k) — a bounded literal lookup
    // (k values), computed driver-side once
    val idealPrefix: Seq[Long] = {
      var acc = 0L
      (1 to k).map { r =>
        acc += new java.math.BigDecimal(
          1.0 / (math.log(r + 1.0) / math.log(2.0)))
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .movePointRight(6).longValueExact()
        acc
      }
    }
    val ideal: Column = element_at(
      array(idealPrefix.map(lit): _*),
      least(col("n_rel").cast("int"), lit(k)))
    def ratio(numerMicro: Column, denomMicro: Column): Column =
      floor(numerMicro.cast("double") * lit(1000000.0) /
          denomMicro.cast("double"))
        .cast("double").divide(lit(1000000.0))
    nRel.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        ratio(coalesce(col("hits"), lit(0L)) * 1000000,
          least(col("n_rel"), lit(k.toLong)) * 1000000).as("recall"),
        coalesce((micro(lit(1.0) / col("__first")) * 1000000)
          .cast("long"), lit(0L))
          .cast("double").divide(lit(1000000.0)).as("mrr"),
        coalesce(ratio(col("__dcg"), ideal), lit(0.0)).as("ndcg"))
  }

  /** Hard-negative mining — the training-data half of the retrieval
    * loop: contrastive embedding training (SimCSE/DPR/BGE family —
    * Karpukhin et al., EMNLP 2020, public literature) wants, per
    * query, the highest-ranked candidates the searcher retrieved that
    * are NOT judged relevant. Top-of-run negatives are routinely
    * FALSE negatives (relevant but unjudged), so `skipTop` excludes
    * the first ranks (the "mine from a band below the top" practice).
    *
    * Rules: run ranks in (skipTop, …] that do not appear in qrels,
    * cut to the `k` best original ranks per query (ties by n_id);
    * queries with ZERO judged-relevant documents emit nothing — with
    * no positive anchor a training triple cannot be formed, the same
    * exclusion [[perQuery]] applies when scoring.
    *
    * Scale shape (100 TB): the run is already top-k-sized; the
    * anti/semi joins are (q_id, n_id)-keyed over run-sized frames, and
    * the per-query cut is the native bounded-heap top-k — no window
    * over a skewed q_id partition, no corpus participation at all.
    * Output: (q_id, n_id, orig_rank, neg_rank 1..k). */
  def hardNegatives(run: DataFrame, qrels: DataFrame, k: Int,
                    skipTop: Int = 0): DataFrame = {
    require(k > 0, s"hardNegatives: k must be positive: $k")
    require(skipTop >= 0, s"hardNegatives: skipTop must be >= 0: $skipTop")
    val r = run.select(col("q_id"), col("rank").cast("int").as("orig_rank"),
        col("n_id"))
      .where(col("orig_rank") > skipTop)
    val rels = qrels.select(col("q_id"), col("n_id")).distinct()
    val cand = r
      .join(rels, Seq("q_id", "n_id"), "left_anti")
      .join(rels.select(col("q_id")).distinct(), Seq("q_id"), "left_semi")
    graft.plans.TopK.perKey(cand, Seq("q_id"),
      Seq(graft.plans.TopK.Sort("orig_rank"), graft.plans.TopK.Sort("n_id")),
      k, "neg_rank")
      .select(col("q_id"), col("n_id"), col("orig_rank"), col("neg_rank"))
  }

  /** Contrastive training TRIPLES — [[hardNegatives]] packaged into
    * the (query, positive, negative) rows a DPR/SimCSE-style trainer
    * consumes: every judged-positive of a query crossed with the
    * query's `kNeg` mined negatives. Queries whose negatives mined
    * empty (all retrieved were positives, or no positives judged)
    * emit nothing — a triple needs both sides.
    *
    * Size contract: |qrels| × kNeg rows at most — training-set-sized,
    * never corpus-sized; the join is q_id-keyed over two list-sized
    * frames. Output: (q_id, pos_id, neg_id, neg_rank). */
  def trainingTriples(run: DataFrame, qrels: DataFrame, kNeg: Int,
                      skipTop: Int = 0): DataFrame = {
    val negs = hardNegatives(run, qrels, kNeg, skipTop)
      .select(col("q_id"), col("n_id").as("neg_id"), col("neg_rank"))
    qrels.select(col("q_id"), col("n_id").as("pos_id")).distinct()
      .join(negs, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("neg_id"), col("neg_rank"))
  }
}
