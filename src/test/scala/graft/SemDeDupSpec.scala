package graft

import graft.operators.{IvfIndex, SemDeDup}
import org.apache.spark.sql.functions._

/** SemDeDup's cluster-confined greedy dominance: brute-force label
  * equality on multi-cluster fixtures, cluster confinement, the
  * edge-keeper rule, and the refusal envelope. */
class SemDeDupSpec extends SparkSpec {
  import spark.implicits._

  private val e0 = Array(1.0, 0.0)
  private val e1 = Array(0.0, 1.0)

  private def at(deg: Double): Array[Float] =
    Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)

  /** The operator's exact semantics, recomputed independently: assign
    * each normalized vector to the nearest normalized centroid (L2,
    * first index wins), csim = dot(nv, centroid); drop a iff some b in
    * the same cell with (csim_b, id_b) < (csim_a, id_a) has
    * dot(nv_a, nv_b) >= tau — dominance, dropped b still counts. */
  private def brute(rows: Seq[(Long, Array[Float])],
                    cents: Seq[Array[Double]], tau: Double): Set[Long] = {
    val ncents = cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    val prepped = rows.map { case (id, v) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      val nv = d.map(_ / n)
      val cell = ncents.zipWithIndex.map { case (c, i) =>
        (nv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }.minBy { case (dist, i) => (dist, i) }._2
      val csim = nv.zip(ncents(cell)).map { case (x, y) => x * y }.sum
      (id, nv, cell, csim)
    }
    prepped.filter { case (id, nv, cell, csim) =>
      !prepped.exists { case (bid, bnv, bcell, bcsim) =>
        bcell == cell &&
          (bcsim < csim || (bcsim == csim && bid < id)) &&
          nv.zip(bnv).map { case (x, y) => x * y }.sum >= tau
      }
    }.map(_._1).toSet
  }

  test("multi-cluster random fixture: survivors equal the brute-force " +
    "greedy dominance set exactly") {
    val rnd = new scala.util.Random(13)
    val rows = (0L until 80L).map { i =>
      val base = if (i % 2 == 0) 10.0 else 80.0 // two angular clumps
      i -> at(base + rnd.nextInt(30))
    }
    val model = IvfIndex.Model(Array(e0, e1))
    val got = SemDeDup.dedup(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", model, tau = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(got == brute(rows, Seq(e0, e1), 0.95))
    assert(got.nonEmpty && got.size < 80) // fixture actually dedups
  }

  test("cluster confinement: tau-similar vectors in DIFFERENT cells " +
    "both survive (the deliberate SemDeDup approximation)") {
    // 44 and 46 degrees: cosine ~0.9994, but they straddle the 45-degree
    // cell boundary between e0 and e1
    val df = Seq((1L, at(44)), (2L, at(46))).toDF("vec_id", "embedding")
    val model = IvfIndex.Model(Array(e0, e1))
    val got = SemDeDup.dedup(df, "vec_id", "embedding", model, 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("keeper is the cluster-EDGE member: within a duplicate group the " +
    "lowest centroid-cosine example survives, not the lowest id") {
    // all in e0's cell; 30 degrees is farthest from the centroid, so it
    // survives despite having the HIGHEST id
    val df = Seq((1L, at(5)), (2L, at(15)), (3L, at(30)))
      .toDF("vec_id", "embedding")
    val model = IvfIndex.Model(Array(e0, e1))
    val got = SemDeDup.dedup(df, "vec_id", "embedding", model, 0.9)
      .select("vec_id").as[Long].collect().toSet
    // csim order: 3 (cos30) < 2 (cos15) < 1 (cos5). 3 kept first; 2 is
    // cos(15)=cos(30-15)~0.966>=0.9 similar to 3 -> dropped; 1 is
    // cos(25)~0.906 similar to 3 -> dropped.
    assert(got == Set(3L))
  }

  test("survivors keep their original columns and values; result is " +
    "partitioning independent") {
    val rnd = new scala.util.Random(99)
    val rows = (0L until 60L).map(i =>
      (i, at(rnd.nextInt(360)), s"src${i % 5}"))
    val model = IvfIndex.Model(Array(e0, e1, Array(-1.0, 0.0), Array(0.0, -1.0)))
    def run(df: org.apache.spark.sql.DataFrame) =
      SemDeDup.dedup(df, "vec_id", "embedding", model, 0.98)
        .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    val a = run(rows.toDF("vec_id", "embedding", "source"))
    val b = run(rows.reverse.toDF("vec_id", "embedding", "source")
      .repartition(7))
    assert(a == b)
    assert(a.forall { case (id, src) => src == s"src${id % 5}" })
  }

  test("dedupTrained is deterministic across partitioning and equals " +
    "dedup on the trained model") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val viaTrained = SemDeDup.dedup(emb, "vec_id", "embedding",
        IvfIndex.train(emb, "vec_id", "embedding", 4), 0.4)
      .select("vec_id").as[Long].collect().toSet
    val model = IvfIndex.train(emb.repartition(9), "vec_id", "embedding", 4)
    val viaModel = SemDeDup.dedup(emb, "vec_id", "embedding", model, 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(viaTrained == viaModel)
    assert(viaTrained.nonEmpty && viaTrained.size < emb.count())
  }

  test("plan gate: the dominance anti-join keys on cell equality (hash " +
    "or sort-merge join), never a nested-loop corpus product") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val model = IvfIndex.Model(Array(basis(0), basis(1), basis(2)))
    val plan = SemDeDup.dedup(emb, "vec_id", "embedding", model, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"all-pairs join leaked into the SemDeDup plan:\n${plan.take(2000)}")
    assert(plan.contains("LeftAnti"), plan.take(2000))
  }

  test("cell-mass guard: a skewed one-cell model trips the bound loudly " +
    "with the mass and the fix; a multi-cell model on the same corpus " +
    "and bound passes") {
    val rnd = new scala.util.Random(7)
    // 100 rows spread over four quadrants: one-cell mass = 100·99 = 9,900;
    // the 4-cell model splits ~25/cell -> mass ≈ 4·25·24 ≈ 2,400
    val rows = (0L until 100L).map(i => i -> at(rnd.nextInt(360)))
    val df = rows.toDF("vec_id", "embedding")
    val skewed = IvfIndex.Model(Array(e0))
    val ex = intercept[IllegalArgumentException] {
      SemDeDup.dedup(df, "vec_id", "embedding", skewed, 0.9,
        maxCellPairs = 5000L).collect()
    }
    assert(ex.getMessage.contains("9900") &&
      ex.getMessage.contains("maxCellPairs=5000") &&
      ex.getMessage.contains("Train more cells"), ex.getMessage)
    val spread = IvfIndex.Model(
      Array(e0, e1, Array(-1.0, 0.0), Array(0.0, -1.0)))
    val got = SemDeDup.dedup(df, "vec_id", "embedding", spread, 0.9,
        maxCellPairs = 5000L)
      .select("vec_id").as[Long].collect().toSet
    assert(got == brute(rows, Seq(e0, e1, Array(-1.0, 0.0),
      Array(0.0, -1.0)), 0.9))
  }

  test("refusals: tau out of (0,1], zero-vector centroid") {
    val df = Seq((1L, at(0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      SemDeDup.dedup(df, "vec_id", "embedding",
        IvfIndex.Model(Array(e0)), tau = 0.0)
    }
    intercept[IllegalArgumentException] {
      SemDeDup.dedup(df, "vec_id", "embedding",
        IvfIndex.Model(Array(e0)), tau = 1.5)
    }
    intercept[IllegalArgumentException] {
      SemDeDup.dedup(df, "vec_id", "embedding",
        IvfIndex.Model(Array(Array(0.0, 0.0))), tau = 0.5)
    }
  }
}
