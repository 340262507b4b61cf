package graft

import graft.functions.{VectorExprsReference, VectorNative}
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Native vector expressions must be bit-identical to the composed
  * higher-order-function formulations on real embedding data. */
class VectorNativeSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("native cosine == composed cosine, bit-for-bit") {
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .where(col("a") < col("b") && col("a") < 30 && col("b") < 30)
    val diff = pairs.select(
      VectorNative.cosineSim(col("va"), col("vb")).as("fast"),
      VectorExprsReference.cosineComposed(col("va"), col("vb")).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("NaN query vectors are rejected, not silently mapped to centroid 0") {
    import graft.functions.VectorNative
    import spark.implicits._
    val cents = Seq(Array(0.0, 0.0), Array(1.0, 1.0))
    val bad = Seq((1L, Seq(Double.NaN, 0.5))).toDF("id", "vec")
    val e = intercept[Exception] {
      bad.select(VectorNative.nearestCells($"vec", cents, 2)).collect()
    }
    assert(e.getMessage.contains("NaN"))
    val e2 = intercept[Exception] {
      bad.select(VectorNative.nearestCentroid($"vec", cents)).collect()
    }
    assert(e2.getMessage.contains("NaN"))
  }

  test("int8 quant stats: clamp, zero vector, half-away rounding") {
    import graft.functions.VectorNative
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, -1.0, 0.5)),       // scale = 1/127
      (2L, Seq(0.0, 0.0)),             // all-zero -> scale 0, zero error
      (3L, Seq(127.0, -127.0, 63.5))). // integer grid: 63.5/1 rounds away
      toDF("id", "vec")
    val out = df.select($"id", VectorNative.int8QuantStats($"vec").as("st"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // id 2: all-zero vector is lossless
    assert(out(2L) == Seq(0.0, 0.0, 0.0))
    // id 1: scale exact; max element reconstructs exactly (q = ±127)
    assert(math.abs(out(1L).head - 1.0 / 127.0) < 1e-15)
    // id 3: scale = 1.0, 63.5 -> q = 64 (half away from zero), err = 0.5
    assert(out(3L).head == 1.0)
    assert(math.abs(out(3L)(2) - 0.5) < 1e-15)
    // negative halfway also rounds away from zero: -0.5*scale -> q=-1...
    val neg = Seq((9L, Seq(127.0, -63.5))).toDF("id", "vec")
      .select(VectorNative.int8QuantStats($"vec")).collect()(0).getSeq[Double](0)
    assert(math.abs(neg(2) - 0.5) < 1e-15) // |-63.5 - (-64)| = 0.5
  }

  test("native plane bits == composed plane bits") {
    val planes = Similarity.planes(8, 64)
    val diff = emb.select(
      VectorNative.planeBits(col("embedding"), planes).as("fast"),
      VectorExprsReference.simhashPlanesComposed(col("embedding"), planes).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }
}
