package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Z-order layout: interleave correctness, masking, and two-dimensional
  * locality of z-buckets. */
class LayoutSpec extends SparkSpec {

  test("zValue16: known interleaves and 16-bit masking") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65537L, 0L))
      .toDF("x", "y")
      .select(Layout.zValue16(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    // spread(3)=0b101=5; spread(5)=0b10001=17, <<1 = 34; 5|34 = 39
    // 65537 masks to 1 -> same as (1, 0)
    assert(out.toSeq == Seq(0L, 1L, 2L, 39L, 1L), out.mkString(","))
  }

  test("zorderStats: every bucket of a full grid confines BOTH dimensions " +
    "— the file-skipping rectangle") {
    import spark.implicits._
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y)))
      .toDF("x", "y")
    // shiftBits=6: 64 z-codes per bucket = an 8x8 tile
    val stats = Layout.zorderStats(grid, "x", "y", shiftBits = 6).collect()
    assert(stats.length == 64)
    stats.foreach { r =>
      assert(r.getLong(1) == 64L, s"bucket ${r.getLong(0)} count")
      assert(r.getLong(3) - r.getLong(2) == 7L, "x span must be 8-wide")
      assert(r.getLong(5) - r.getLong(4) == 7L, "y span must be 8-wide")
    }
    // contrast: bucketing the same grid by a ONE-dimensional sort key
    // (x) would confine x but leave y full-range — the point of z-order
  }

  test("bounds reject") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("x", "y")
    intercept[IllegalArgumentException] {
      Layout.zorderStats(df, "x", "y", 40)
    }
  }
}
