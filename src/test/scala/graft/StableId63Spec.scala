package graft

import graft.functions.{CleanExprs, StableId63}
import org.apache.spark.sql.functions._

/** The native Catalyst expression must agree with the built-in composed
  * version AND the Python reference goldens, in both eval and codegen. */
class StableId63Spec extends SparkSpec {
  import spark.implicits._

  test("expression matches Python goldens and the built-in chain") {
    val df = Seq(
      ("John Smith", "1 Main St", "07001"),
      ("张三", "北京路1号", "100000"),
      ("a", "b", "c"))
      .toDF("n", "a", "p")
      .withColumn("key", concat_ws("|", $"n", $"a", $"p"))
    val rows = df.select(
      StableId63.stableId63($"key").as("native"),
      CleanExprs.stableId($"n", $"a", $"p").as("composed")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows(0).getLong(0) == 7951322489277580467L)
    assert(rows(1).getLong(0) == 2875976616132334899L)
  }

  test("SQL registration + null propagation") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "stable_id63", exprs => StableId63(exprs.head), "built-in")
    val got = spark.sql(
      "SELECT stable_id63('John Smith|1 Main St|07001') AS id, stable_id63(NULL) AS nid")
      .collect().head
    assert(got.getLong(0) == 7951322489277580467L)
    assert(got.isNullAt(1))
  }

  test("range property: always within [0, 2^63)") {
    val ids = spark.range(1000)
      .select(StableId63.stableId63(col("id").cast("string")).as("h"))
      .agg(min($"h"), max($"h")).collect().head
    assert(ids.getLong(0) >= 0L && ids.getLong(1) <= Long.MaxValue)
  }
}
