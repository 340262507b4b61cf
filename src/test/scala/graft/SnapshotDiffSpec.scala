package graft

import graft.operators.SnapshotDiff

/** Four-way classification semantics and null-content rules. */
class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  test("all four statuses classify correctly with exact fingerprints") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val neu = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("doc_id", "text")
    val got = SnapshotDiff.diff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(got(1L) == (("unchanged", false, false)))
    assert(got(2L) == (("changed", false, false)))
    assert(got(3L) == (("removed", false, true)))
    assert(got(4L) == (("added", true, false)))
  }

  test("null content: null->null is unchanged, null->text and " +
    "text->null are changed") {
    val old = Seq((1L, null), (2L, null), (3L, "x"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, null), (2L, "now"), (3L, null))
      .toDF("doc_id", "text")
    val got = SnapshotDiff.diff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed"))
  }
}
