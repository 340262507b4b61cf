package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the change-data report between two dumps of
  * the same corpus (monthly crawl snapshots, dataset releases): which
  * documents were ADDED, REMOVED, CHANGED, or are UNCHANGED, by id and
  * content fingerprint. Every incremental operator in this repo
  * ([[TextSearch.appendCorpusStats]], [[IvfIndex.appendToIndex]],
  * [[Upsert]]) contracts on "delta documents are NEW" — this is the
  * operator that AUDITS that contract before an append, and the
  * rebuild trigger when it fails (changed/removed > 0 ⇒ rebuild, not
  * append).
  *
  * Scale shape (100 TB): content is hashed to a 128-bit md5 AT THE
  * SCAN, so the full-outer id join ships (id, 32-hex-char) rows — the
  * text/payload column never shuffles. One id-keyed exchange per
  * side. */
object SnapshotDiff {

  /** Per-id classification. Output: (id, status, old_fp, new_fp) where
    * status ∈ {'added', 'removed', 'changed', 'unchanged'} and the
    * absent side's fingerprint is NULL. Ids must be unique per
    * snapshot (corpus key contract — duplicate ids would cross-join in
    * the full-outer match; run exact dedup first). NULL content hashes
    * to NULL and compares via null-safe equality, so (null → null) is
    * unchanged and (null → text) is changed. */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
           contentCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol).as("id"),
      md5(col(contentCol).cast("binary")).as("old_fp"),
      lit(true).as("__in_old"))
    val n = newSnap.select(col(idCol).as("id"),
      md5(col(contentCol).cast("binary")).as("new_fp"),
      lit(true).as("__in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("old_fp") <=> col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }
}
