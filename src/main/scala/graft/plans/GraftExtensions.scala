package graft.plans

import graft.functions.{ShingleHash32, StableId63}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** Engine extensions, installable via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`:
  *
  *  - SQL functions `stable_id63(str)` and `shingle_hash32(str, n)`;
  *  - the [[NativeHashRewrite]] optimizer rule (composed md5-key algebra →
  *    native codegen'd expression);
  *  - the [[DecimalSums]] optimizer rule (decimal sums of precision > 18
  *    over `DECIMAL(p ≤ 18)` terms → exact sums of unscaled longs);
  *  - the [[SinglePartitionReads]] optimizer rule (a one-split read under
  *    an aggregate, a global sort or an unkeyed window plans no exchange);
  *  - the [[TopKStrategy]] planner strategy (per-key top-k heaps).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NativeHashRewrite)
    ext.injectOptimizerRule(_ => DecimalSums)
    ext.injectOptimizerRule(SinglePartitionReads)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("stable_id63"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[StableId63].getName, "stable_id63"),
        (exprs: Seq[Expression]) => StableId63(exprs.head)))
    ext.injectFunction(
      (org.apache.spark.sql.catalyst.FunctionIdentifier("shingle_hash32"),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[ShingleHash32].getName, "shingle_hash32"),
        (exprs: Seq[Expression]) => exprs match {
          case Seq(text) => ShingleHash32(text, 3)
          case Seq(text, Literal(n: Int, IntegerType)) => ShingleHash32(text, n)
          case _ => throw new IllegalArgumentException(
            "shingle_hash32(text[, n]) expects 1 or 2 arguments")
        }))
  }
}
