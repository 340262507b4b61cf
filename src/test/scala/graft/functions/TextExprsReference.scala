package graft.functions

import graft.functions.TextExprs.{langStopwords, tokens}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative specifications of the native [[TextExprs]] kernels and
  * of [[ShingleHash32]] (word shingles, md5 token hash); spec use
  * only. */
object TextExprsReference {

  /** Declarative spec of [[TextExprs.langId]] ([[LangIdNative]]). */
  def langIdComposed(text: Column): Column = {
    val toks = tokens(lower(text))
    val counts = langStopwords.map { case (l, sw) =>
      l -> size(filter(toks, t => t.isInCollection(sw)))
    }
    // lang wins iff its count is strictly greater than every EARLIER lang's
    // count and >= every later one, and > 0 — i.e. first argmax.
    val best = counts.foldLeft(lit("unk") -> lit(0)) {
      case ((bestLang, bestCnt), (l, c)) =>
        (when(c > bestCnt, lit(l)).otherwise(bestLang),
         when(c > bestCnt, c).otherwise(bestCnt))
    }
    best._1
  }

  /** Declarative spec of [[TextExprs.fingerprint]]
    * ([[FingerprintMd5]]). */
  def fingerprintComposed(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** 32-bit token hash from md5 (engine-portable: any system that can md5
    * reproduces it — used for MinHash parity with the DuckDB oracle),
    * usable inside higher-order-function lambdas. */
  def tokenHash32Expr(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast(LongType)

  /** Word n-gram shingles of the token array (n >= 1): array of
    * space-joined windows; used by MinHash/Jaccard dedup. Documents with
    * fewer than n tokens yield NULL — callers filter them out (same as the
    * oracle's `WHERE len(tokens) >= n`). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    if (n <= 1) toks
    else {
      // transform over indices 0..size-n producing concat of n tokens
      val idx = sequence(lit(0), size(toks) - n)
      when(size(toks) >= n,
        transform(idx, i =>
          concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
    }
  }
}
