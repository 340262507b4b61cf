package graft

import graft.functions.{TextExprs, TextExprsReference}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Native fingerprint must equal the composed regex formulation on real
  * documents and fuzzed strings. */
class FingerprintMd5Spec extends SparkSpec {
  import spark.implicits._

  test("equals composed form on the documents table") {
    val diff = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(TextExprs.fingerprint(col("text")).as("fast"),
        TextExprsReference.fingerprintComposed(col("text")).as("slow"))
      .where(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("equals composed form on fuzzed strings") {
    val gen = Gen.listOf(Gen.oneOf(' ', '\t', '\n', '\r', '\f', 'a', 'B', 'Ü', '好', '7', '.'))
      .map(_.mkString)
    val texts = Iterator.continually(gen.sample).flatten.take(300).toSeq
    val rows = texts.toDF("t")
      .select(TextExprs.fingerprint($"t").as("fast"),
        TextExprsReference.fingerprintComposed($"t").as("slow"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getString(0) == r.getString(1), s"text=${t.map(_.toInt)}")
    }
  }
}
