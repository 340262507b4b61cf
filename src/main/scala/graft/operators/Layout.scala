package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout via Z-order (Morton) curves — the
  * file-clustering move that makes min/max data skipping work on TWO
  * filter columns at once (Morton, "A computer oriented geodetic data
  * base", IBM 1966; the technique behind clustered table layouts in
  * modern lakehouse formats — public literature). Sorting 100 TB by
  * `customer` alone gives perfect pruning on customer filters and NONE
  * on date filters; sorting by the interleaved z-value gives every
  * file a narrow min/max rectangle in BOTH dimensions, so either
  * filter prunes ~√(selectivity) of the files.
  *
  * The z-value is a pure-Column bit interleave (magic-number bit
  * spreading, 8 shift-mask steps — fully codegen'd, no UDF, no custom
  * expression): bit i of x lands at position 2i, bit i of y at 2i+1,
  * so z-adjacent rows are rectangle-adjacent in (x, y).
  *
  * Scale shape: a writer that range-partitions on [[zValue16]] pays ONE
  * exchange (the same shuffle a plain sort-by-one-column layout pays) —
  * locality in two dimensions costs nothing extra at write time.
  * [[zorderStats]] is the audit: per z-bucket (= per would-be file)
  * row count and min/max of each dimension — the x_span×y_span
  * rectangle IS the skipping index entry a reader would prune with. */
object Layout {

  /** Interleave the low 16 bits of `x` and `y` (values must be in
    * [0, 65536); the caller maps/hashes into range — a require-style
    * runtime mask keeps out-of-range inputs from silently colliding:
    * inputs are masked to 16 bits, documented). x occupies even bits,
    * y odd. */
  def zValue16(x: Column, y: Column): Column = {
    def spread(c: Column): Column = {
      var v = c.cast("long").bitwiseAND(lit(0xFFFFL))
      v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
      v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x33333333L))
      v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(x).bitwiseOR(shiftleft(spread(y), 1))
  }

  /** Layout audit: bucket rows by the top bits of their z-value
    * (bucket = z >> shiftBits — each bucket is a contiguous z-range,
    * i.e. a would-be file under a z-value range partitioning) and report
    * each bucket's count and min/max per dimension. The spans prove
    * (or disprove) two-dimensional locality: a z-bucket of 2^(2k)
    * codes confines BOTH dimensions to 2^k values, where a one-column
    * sort would confine one and leave the other full-range.
    *
    * One map-side-combined aggregate; nothing else. */
  def zorderStats(df: DataFrame, xCol: String, yCol: String,
                  shiftBits: Int): DataFrame = {
    require(shiftBits >= 0 && shiftBits <= 31,
      s"zorderStats: shiftBits must be in [0, 31]: $shiftBits")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    df.select(x.as("__x"), y.as("__y"),
        shiftright(zValue16(x, y), shiftBits).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("__x")).as("x_min"), max(col("__x")).as("x_max"),
        min(col("__y")).as("y_min"), max(col("__y")).as("y_max"))
  }
}
