package graft

import graft.functions.{ShingleHash32, TextExprs, TextExprsReference}
import org.apache.spark.sql.functions._

/** The codegen'd shingle-hash expression must agree exactly with the
  * composed higher-order-function formulation it replaces. */
class ShingleHash32Spec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps",
    "  leading and trailing  ",
    "tab\tseparated\ttokens here",
    "newline at end\n",
    "short",
    "a b",
    "")

  test("matches transform(shingles, tokenHash32) for n=3 and n=1") {
    for (n <- Seq(1, 3)) {
      val df = texts.toDF("text")
      val slow = df.select(
        coalesce(transform(
          if (n == 1) TextExprs.tokens($"text") else TextExprsReference.shingles($"text", n),
          t => TextExprsReference.tokenHash32Expr(t)), array()).as("hv"))
        .collect().map(_.getSeq[Long](0).toSeq)
      val fast = df.select(ShingleHash32.shingleHash32($"text", n).as("hv"))
        .collect().map(_.getSeq[Long](0).toSeq)
      slow.zip(fast).zip(texts).foreach { case ((s, f), t) =>
        assert(s == f, s"n=$n text=$t")
      }
    }
  }

  test("documents table: identical posting sets at sf0.001") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val slow = docs.select($"doc_id",
        explode(transform(TextExprsReference.shingles($"text", 3),
          t => TextExprsReference.tokenHash32Expr(t))).as("hv"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = docs.select($"doc_id",
        explode(ShingleHash32.shingleHash32($"text", 3)).as("hv"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(slow == fast)
  }
}
