package graft

import graft.operators.RetrievalEval

/** Hand-computed IR metrics under the micro-unit/floor protocol, the
  * judged-query exclusion rule, and cut behavior. */
class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  private def microOf(x: Double): Long =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000)).toLongExact
  private def disc(rank: Int): Long =
    microOf(1.0 / (math.log(rank + 1.0) / math.log(2.0)))
  private def ratio(numMicro: Long, denMicro: Long): Double =
    math.floor(numMicro.toDouble * 1000000.0 / denMicro.toDouble) / 1000000.0

  test("perQuery: hand-computed recall/mrr/ndcg on a 3-deep run with " +
    "a rank-2 hit and 2 judged docs") {
    val run = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L))
      .toDF("q_id", "rank", "n_id")
    val qrels = Seq((1L, 11L), (1L, 99L)).toDF("q_id", "n_id")
    val r = RetrievalEval.perQuery(run, qrels, k = 3).collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L) // n_rel, hits
    assert(r.getDouble(3) == ratio(1L * 1000000, 2L * 1000000)) // recall .5
    assert(r.getDouble(4) == microOf(1.0 / 2).toDouble / 1e6)   // mrr .5
    assert(r.getDouble(5) == ratio(disc(2), disc(1) + disc(2)))
  }

  test("perQuery: zero-hit judged query emits the zero row; " +
    "judgment-free query is excluded (trec_eval convention)") {
    val run = Seq((1L, 1, 10L), (2L, 1, 20L)).toDF("q_id", "rank", "n_id")
    val qrels = Seq((1L, 99L)).toDF("q_id", "n_id")
    val rows = RetrievalEval.perQuery(run, qrels, k = 5).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(0) == 1L && r.getLong(2) == 0L)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0 &&
      r.getDouble(5) == 0.0)
  }

  test("perQuery: ranks beyond the cut are ignored; duplicate qrels " +
    "rows collapse; ideal prefix caps at k") {
    val run = (1 to 8).map(r => (1L, r, r.toLong + 100))
      .toDF("q_id", "rank", "n_id")
    // relevant: ranks 2 and 7; cut at 5 sees only rank 2
    val qrels = Seq((1L, 102L), (1L, 102L), (1L, 107L),
      (1L, 300L), (1L, 301L), (1L, 302L), (1L, 303L), (1L, 304L),
      (1L, 305L), (1L, 306L))
      .toDF("q_id", "n_id")
    val r = RetrievalEval.perQuery(run, qrels, k = 5).collect()(0)
    assert(r.getLong(1) == 9L) // 102,107,300..306 deduped
    assert(r.getLong(2) == 1L) // only rank-2 inside the cut
    // recall at the achievable cut: min(9, 5) = 5
    assert(r.getDouble(3) == ratio(1L * 1000000, 5L * 1000000))
    // ideal prefix also caps at k=5 discounts
    val ideal5 = (1 to 5).map(disc).sum
    assert(r.getDouble(5) == ratio(disc(2), ideal5))
  }

  test("refuses non-positive k") {
    val df = Seq((1L, 1, 10L)).toDF("q_id", "rank", "n_id")
    intercept[IllegalArgumentException] {
      RetrievalEval.perQuery(df, df.select($"q_id", $"n_id"), 0)
    }
  }

  test("hardNegatives: positives excluded, skipTop band honored, " +
    "unjudged queries silent, cut + renumber by original rank") {
    val run = Seq(
      // query 1: rank1=pos(10), rank2=neg, rank3=pos, rank4..6=neg
      (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 11L),
      (1L, 4, 21L), (1L, 5, 22L), (1L, 6, 23L),
      // query 2: judged but all retrieved are positives -> nothing
      (2L, 1, 30L), (2L, 2, 31L),
      // query 3: NO qrels -> must emit nothing
      (3L, 1, 40L), (3L, 2, 41L))
      .toDF("q_id", "rank", "n_id")
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 11L), // dup collapses
      (2L, 30L), (2L, 31L)).toDF("q_id", "n_id")
    val out = RetrievalEval.hardNegatives(run, qrels, k = 2, skipTop = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).sortBy(x => (x._1, x._4))
    // q1: band is ranks 2..6; negatives 20(r2), 21(r4), 22, 23 -> top 2
    assert(out.toSeq == Seq((1L, 20L, 2, 1), (1L, 21L, 4, 2)))
  }

  test("hardNegatives: skipTop=0 mines from rank 1; refusals") {
    val run = Seq((1L, 1, 20L), (1L, 2, 10L)).toDF("q_id", "rank", "n_id")
    val qrels = Seq((1L, 10L)).toDF("q_id", "n_id")
    val out = RetrievalEval.hardNegatives(run, qrels, k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(out.toSeq == Seq((20L, 1, 1)))
    intercept[IllegalArgumentException] {
      RetrievalEval.hardNegatives(run, qrels, 0)
    }
    intercept[IllegalArgumentException] {
      RetrievalEval.hardNegatives(run, qrels, 1, skipTop = -1)
    }
  }

  test("trainingTriples: every positive crosses every mined negative; " +
    "negative-less queries emit nothing") {
    val run = Seq(
      (1L, 1, 10L), (1L, 2, 20L), (1L, 3, 21L), // q1: pos 10,11; negs 20,21
      (2L, 1, 30L)).toDF("q_id", "rank", "n_id") // q2: only a positive
    val qrels = Seq((1L, 10L), (1L, 11L), (2L, 30L)).toDF("q_id", "n_id")
    val out = RetrievalEval.trainingTriples(run, qrels, kNeg = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(out == Set(
      (1L, 10L, 20L, 1), (1L, 10L, 21L, 2),
      (1L, 11L, 20L, 1), (1L, 11L, 21L, 2)))
  }
}
