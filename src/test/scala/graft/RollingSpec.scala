package graft

import graft.operators.Rolling
import org.apache.spark.sql.functions._

/** Rolling RANGE-frame window aggregates: value-distance frames, same-day
  * peers, exact decimal sums, and the keyed-exchange plan shape. */
class RollingSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    // key A: days 0, 10, 29, 30, 31 — a 30-day trailing frame at day 30
    // spans [1, 30] (drops day 0), at day 31 spans [2, 31] (drops 10? no
    // — 10 >= 2 stays; drops only day 0). Key B: two rows on the SAME
    // day (peers: both see both) plus one 40 days later (sees only
    // itself).
    Seq(
      ("A", "1970-01-01 10:00:00", 1.00),
      ("A", "1970-01-11 11:00:00", 2.00),
      ("A", "1970-01-30 09:00:00", 4.00),
      ("A", "1970-01-31 23:59:59", 8.00),
      ("A", "1970-02-01 00:00:00", 16.00),
      ("B", "1970-01-05 01:00:00", 1.50),
      ("B", "1970-01-05 22:00:00", 2.50),
      ("B", "1970-02-14 12:00:00", 9.00)
    ).toDF("k", "ts_s", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
  }

  test("trailingSumCount: RANGE frame by day distance, same-day peers, " +
    "decimal-exact sums") {
    val out = Rolling.trailingSumCount(fixture, "k", "ts", "v", windowDays = 30)
      .orderBy("k", "epoch_day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      // A at day 29 (1970-01-30): frame [0, 29] -> all of 1+2+4
      ("A", 0L, 1.0, 1L),
      ("A", 10L, 3.0, 2L),
      ("A", 29L, 7.0, 3L),
      // A at day 30: frame [1, 30] -> drops day 0 -> 2+4+8
      ("A", 30L, 14.0, 3L),
      // A at day 31: frame [2, 31] -> 2+4+8+16
      ("A", 31L, 30.0, 4L),
      // B same-day peers both see 1.5+2.5
      ("B", 4L, 4.0, 2L),
      ("B", 4L, 4.0, 2L),
      // B 40 days later: alone in frame
      ("B", 44L, 9.0, 1L)), out.mkString("\n"))
    // the day render matches the epoch day
    val days = Rolling.trailingSumCount(fixture, "k", "ts", "v", 30)
      .select("epoch_day", "day").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(days(0L) == "1970-01-01" && days(44L) == "1970-02-14")
  }

  test("plan: window partitions by the key — no single-partition window, " +
    "one exchange") {
    val plan = Rolling.trailingSumCount(fixture, "k", "ts", "v", 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    // a keyed window hashpartitions on k; an unkeyed one would show
    // SinglePartition
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("bounds reject") {
    intercept[IllegalArgumentException] {
      Rolling.trailingSumCount(fixture, "k", "ts", "v", 0)
    }
    intercept[IllegalArgumentException] {
      Rolling.trailingSumCount(fixture, "k", "ts", "v", 5000)
    }
  }
}
