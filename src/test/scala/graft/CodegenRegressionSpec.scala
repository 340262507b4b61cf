package graft

import org.apache.spark.sql.functions._

import graft.functions._

/** Regression gate for the silent-interpreted-fallback failure mode:
  * if a native expression's generated code references a companion kernel
  * whose static forwarder scalac didn't emit (e.g. a kernel named `eval`,
  * which collides with `Expression.eval`), Janino fails to compile and
  * Spark quietly runs the stage interpreted — results stay correct, perf
  * dies. With `spark.sql.codegen.fallback=false` that failure becomes a
  * hard error, so this suite fails loudly instead. */
class CodegenRegressionSpec extends SparkSpec {

  test("all native expressions compile under whole-stage codegen") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // Must read from files: a Seq.toDF local relation gets folded by
      // ConvertToLocalRelation in the OPTIMIZER (interpreted eval), so a
      // broken doGenCode would never be exercised and the test would
      // vacuously pass.
      val dim = 16
      val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
        .join(Tables.load(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
          .select(col("vec_id"),
            slice(col("embedding").cast("array<double>"), 1, dim).as("vec")),
          col("doc_id") === col("vec_id"))
      val planes = Seq.tabulate(2)(p => Seq.tabulate(dim)(i => if (i % 2 == p) 1.0 else -1.0))
      val cents = Seq(Array.fill(dim)(0.1), Array.fill(dim)(-0.1))
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      bf.putLong(7L)
      val bloomBc = spark.sparkContext.broadcast(bf)
      val out = docs.select(
        SimHash48.simhash48(col("text")).as("sh"),
        ShingleHash32.shingleHash32(col("text"), 3).as("s32"),
        ShingleHash32.shingleHash32(col("text"), 3, 6).as("s48"),
        StableId63.stableId63(col("text")).as("sid"),
        LangIdNative.langId(col("text")).as("lid"),
        FingerprintMd5.fingerprintMd5(col("text")).as("fp"),
        StrictTs.strictTs(col("text")).as("sts"),
        VectorNative.dotProduct(col("vec"), col("vec")).as("dot"),
        VectorNative.cosineSim(col("vec"), col("vec")).as("cos"),
        VectorNative.l2Normalize(col("vec")).as("l2"),
        VectorNative.planeBits(col("vec"), planes).as("pb"),
        VectorNative.randomProject(col("vec"), planes).as("rp"),
        VectorNative.nearestCells(col("vec"), cents, 2).as("ncs"),
        VectorNative.nearestCentroid(col("vec"), cents).as("nc"),
        VectorNative.int8QuantStats(col("vec")).as("i8"),
        UnicodeNorm.nfc(col("text")).as("nfc"),
        BloomMightContainBc.mightContain(bloomBc, col("doc_id")).as("bmc"),
        ImageMetaExpr.imageMeta(encode(col("text"), "UTF-8")).as("im"),
        AudioMetaExpr.audioMeta(encode(col("text"), "UTF-8")).as("am"),
        IdnHostExpr.idnHost(concat(lit("bü"), col("text").substr(1, 4),
          lit(".example"))).as("idn"),
        RobotsTxtExpr.robotsRules(concat(lit("User-agent: *\nDisallow: /"),
          col("text").substr(1, 3)), "graftbot").as("rr"))
      val rows = out.collect()
      assert(rows.nonEmpty)
      // spot-check the simhash kernel actually ran (non-trivial signatures)
      assert(rows.map(_.getLong(0)).distinct.length > 1)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
