package graft

import graft.functions.{TextExprs, TextExprsReference}
import org.apache.spark.sql.functions._

/** The native language-ID kernel against its declarative spec
  * (per-language HOF filters + first-argmax fold) on real documents. */
class LangIdSpec extends SparkSpec {

  test("native lang_id matches the declarative formulation on documents") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs.select(col("doc_id"),
      TextExprs.langId(col("text")).as("native"),
      TextExprsReference.langIdComposed(col("text")).as("composed"))
    assert(both.where(col("native") =!= col("composed")).count() == 0)
    // and the heuristic actually discriminates on this corpus
    val langs = both.select("native").distinct().collect().map(_.getString(0)).toSet
    assert(langs.size > 1, langs)
  }

  test("tie-break and unk edges") {
    import spark.implicits._
    // write through parquet: a local relation would be constant-folded
    // interpreted and skip the codegen'd path under test
    val dir = java.nio.file.Files.createTempDirectory("langid").toFile
    dir.deleteOnExit()
    Seq(
      (1L, "the der"),        // 1-1 tie -> earlier list (en)
      (2L, "xyzzy plugh"),    // no hits -> unk
      (3L, "  the the la  "), // en 2 beats es/fr 1; leading/trailing spaces
      (4L, "的 是 了"),        // zh
      (5L, "THE AND OF"))     // lowercase before matching
      .toDF("id", "text").write.mode("overwrite").parquet(dir.getAbsolutePath)
    val out = spark.read.parquet(dir.getAbsolutePath)
      .select(col("id"), TextExprs.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "unk", 3L -> "en", 4L -> "zh", 5L -> "en"))
  }
}
