package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Dominance semantics of embedding-space dedup: a row drops iff ANY
  * smaller-id vector is within the cosine threshold — even one that was
  * itself dropped. Distinct from cluster-then-keep-one. */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  test("chain A~B~C with A!~C: B and C both drop (B dominates C anyway)") {
    // unit circle: angles 0, 60, 120 degrees; cos(60)=0.5, cos(120)=-0.5
    def at(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val df = Seq((1L, at(0), 10), (2L, at(60), 20), (3L, at(120), 30))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", 0.4)
      .select("vec_id").as[Long].collect().sorted
    // 2 drops (cos vs 1 = 0.5 >= 0.4); 3 drops too: cos(2,3) = 0.5 even
    // though 3 vs 1 is -0.5 — dominance by the DROPPED row still counts
    assert(out.toSeq == Seq(1L))
  }

  test("isolated vectors all survive with original columns intact") {
    val df = Seq((5L, Array(1.0f, 0.0f), 1), (6L, Array(-1.0f, 0.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", 0.4)
    assert(out.columns.toSeq == Seq("vec_id", "embedding", "label"))
    assert(out.count() == 2)
  }

  test("lshRecallReport: subset property and exact-path sanity") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.lshRecallReport(emb, "vec_id", "embedding", 0.4, nPlanes = 4)
      .collect()(0)
    val (nExact, nLsh, recall) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nLsh <= nExact)                 // bucketing only prunes
    assert(recall >= 0.0 && recall <= 1.0)
    assert(recall == (if (nExact == 0) 1.0
      else BigDecimal(nLsh.toDouble / nExact)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    intercept[IllegalArgumentException] {
      Similarity.lshRecallReport(emb, "vec_id", "embedding", 0.4, nPlanes = 0)
    }
  }

  test("autoPlanes: occupancy stays bounded as the corpus grows") {
    // the fixed-nPlanes scale defect: occupancy grows linearly with n.
    // autoPlanes must keep expected occupancy n/2^p <= targetBucket at
    // every scale below the maxPlanes ceiling — including 10x and 100x.
    for (n <- Seq(10L, 500L, 2000L, 20000L, 200000L, 2000000L)) {
      val p = Similarity.autoPlanes(n, targetBucket = 64, maxPlanes = 24)
      if (p < 24)
        assert(n.toDouble / (1L << p) <= 64.0,
          s"occupancy ${n.toDouble / (1L << p)} > 64 at n=$n (p=$p)")
    }
    // monotone: growing the corpus never loses planes
    val ps = Seq(500L, 5000L, 50000L, 500000L)
      .map(Similarity.autoPlanes(_, 64, 1, 24))
    assert(ps == ps.sorted)
    // exact boundary behavior (integer rule, no float log2):
    // smallest p with n <= 64 << p
    assert(Similarity.autoPlanes(128L, 64) == 1)  // 128 <= 64<<1
    assert(Similarity.autoPlanes(129L, 64) == 2)
    assert(Similarity.autoPlanes(512L, 64) == 3)
    assert(Similarity.autoPlanes(513L, 64) == 4)
    // ceilings and floors hold
    assert(Similarity.autoPlanes(1L, 64, minPlanes = 3) == 3)
    assert(Similarity.autoPlanes(Long.MaxValue / 2, 64, maxPlanes = 12) == 12)
  }

  test("cosineDupPairsAuto == cosineDupPairs at the derived plane count") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val np = Similarity.autoPlanes(emb.count(), 64, 1, 12)
    val auto = Similarity.cosineDupPairsAuto(emb, "vec_id", "embedding",
      0.4, targetBucket = 64, maxPlanes = 12).collect().toSet
    val fixed = Similarity.cosineDupPairs(emb, "vec_id", "embedding",
      0.4, nPlanes = np).collect().toSet
    assert(auto == fixed)
    assert(auto.nonEmpty) // fixture has near-dup pairs at 0.4
  }

  test("semanticDedupAuto: survivors = corpus minus auto-path dominated set") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val np = Similarity.autoPlanes(emb.count(), targetBucket = 64,
      maxPlanes = 12)
    val survivors = Similarity.semanticDedup(emb, "vec_id", "embedding",
      0.4, np)
      .select("vec_id").as[Long].collect().toSet
    val dominated = Similarity.cosineDupPairsAuto(emb, "vec_id", "embedding",
      0.4, targetBucket = 64, maxPlanes = 12)
      .select("d2").as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(survivors == (all -- dominated))
  }

  test("lowest id always survives") {
    val one = Array(1.0f, 0.0f)
    val df = Seq((7L, one, 0), (8L, one, 0), (9L, one, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", 0.99)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == Seq(7L))
  }

  test("embeddingDrift: orthogonal shift scores exactly 0, unchanged " +
    "groups score ~1, one-version-only labels are absent, counts exact") {
    import spark.implicits._
    val a = Seq(
      (1L, Array(1.0f, 0.0f), 10),
      (2L, Array(1.0f, 0.0f), 10),
      (3L, Array(0.5f, 0.5f), 20),
      (4L, Array(0.25f, -0.75f), 30)) // label 30 absent from B
      .toDF("vec_id", "embedding", "label")
    val b = Seq(
      (1L, Array(0.0f, 1.0f), 10), // orthogonal to A's centroid
      (2L, Array(0.0f, 1.0f), 10),
      (3L, Array(0.5f, 0.5f), 20)) // unchanged
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingDrift(a, b, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(10, 20)) // label 30 inner-joins away
    assert(out(10)._1 == 2L && out(10)._2 == 2L)
    assert(out(10)._3 == 0.0) // integer-exact orthogonality
    assert(out(20)._1 == 1L && math.abs(out(20)._3 - 1.0) < 1e-12)
  }

  test("embeddingDrift is row-order and partitioning independent " +
    "(the integer-micro protocol's whole point)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1), (i % 3).toInt))
    val a1 = rows.toDF("vec_id", "embedding", "label").repartition(1)
    val a2 = rows.reverse.toDF("vec_id", "embedding", "label").repartition(7)
    val b = rows.map { case (i, v, l) =>
      (i, v.map(_ + 0.125f), l) }.toDF("vec_id", "embedding", "label")
    val d1 = Similarity.embeddingDrift(a1, b, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val d2 = Similarity.embeddingDrift(a2, b, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(d1 == d2) // bit-for-bit, not approximately
    assert(d1.values.forall(c => c > 0.0 && c <= 1.0 + 1e-12))
  }

  test("embeddingDrift raises on decimal(38,0) sum overflow instead of " +
    "emitting a silent NULL drift_cos (non-ANSI overflow semantics)") {
    import spark.implicits._
    // micro-sums reach floor(8e12·2^20) ≈ 8.4e18 per position (still a
    // valid long); each squared product is ~7.0e37 (fits DECIMAL(38,0))
    // but the 2-position sum is ~1.4e38 — a guaranteed decimal overflow,
    // which non-ANSI Spark turns into NULL. The monitor must refuse.
    val big = Array(8.0e12f, 8.0e12f)
    val a = Seq((1L, big, 10)).toDF("vec_id", "embedding", "label")
    val b = Seq((1L, big, 10)).toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.embeddingDrift(a, b, "label", "embedding").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflow")), msgs(e).toString)
  }

  test("embeddingDrift fails LOUDLY on mismatched dimensionality (the " +
    "re-embedding case a drift monitor must not truncate away)") {
    import spark.implicits._
    val a = Seq((1L, Array(1.0f, 0.0f, 0.5f), 10)) // 3-dim
      .toDF("vec_id", "embedding", "label")
    val b = Seq((1L, Array(1.0f, 0.0f), 10))       // re-embedded at 2-dim
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.embeddingDrift(a, b, "label", "embedding").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dimensionality")), msgs(e).toString)
  }

  test("centroidOutliers: integer-exact distance ranking, per-label " +
    "top-k, partitioning invariance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // label 0: three vectors near (1, 0) and one far outlier at (9, 9);
    // label 1: two identical vectors -> zero distances, ties by id
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.1f, 0.0f), 0),
      (3L, Array(0.9f, 0.1f), 0), (4L, Array(9.0f, 9.0f), 0),
      (5L, Array(2.0f, 2.0f), 1), (6L, Array(2.0f, 2.0f), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity
      .centroidOutliers(emb, "vec_id", "embedding", "label", topK = 2)
      .orderBy("label", "rank").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // label-0 distances to centroid (3, 2.275): v4 9.013, v1 3.029,
    // v3 3.023, v2 2.964 -> top-2 are v4 then v1
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((0, 1, 4L), (0, 2, 1L), (1, 1, 5L), (1, 2, 6L)),
      out.mkString(","))
    // label-1 twins sit exactly on their centroid
    assert(out.filter(_._1 == 1).forall(_._4 == 0.0), out.mkString(","))
    // the outlier's distance: centroid of label 0 = (3, 2.275) quantized;
    // sanity band rather than a hand-rolled decimal: ~9.2
    assert(out(0)._4 > 8.5 && out(0)._4 < 10.0, out(0).toString)
    // layout invariance
    val out2 = graft.operators.Similarity
      .centroidOutliers(emb.repartition(7), "vec_id", "embedding",
        "label", 2)
      .orderBy("label", "rank").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == out2.toSeq)
  }
}
