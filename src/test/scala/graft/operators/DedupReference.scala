package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Independently derived formulations of [[Dedup]] operators; spec use
  * only. */
object DedupReference {

  /** The explode/aggregate formulation of [[Dedup.simhash]] — slower (one
    * shuffle, 48-column agg buffer) but independently derived; DedupSpec
    * asserts equality with the native expression. */
  def simhashDeclarative(docs: DataFrame, idCol: String, textCol: String,
                         nBits: Int = 48): DataFrame = {
    // Dedup's private `postings` at ngram 1, 6-byte hashes: distinct
    // (doc, token-hash) pairs
    val tok = docs.select(col(idCol).as("doc"),
        explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), 1, 6))
          .as("hv"))
      .distinct()
    val bitAggs = (0 until nBits).map { j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sums = tok.groupBy(col("doc")).agg(bitAggs.head, bitAggs.tail: _*)
    val sigExpr = (0 until nBits).map { j =>
      when(col(s"s$j") >= 0, lit(1L) * (1L << j)).otherwise(0L)
    }.reduce(_ + _)
    sums.select(col("doc"), sigExpr.as("simhash"))
  }
}
