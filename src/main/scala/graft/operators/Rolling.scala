package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Rolling time-RANGE window aggregates — "spend over the trailing 30
  * days per customer", the time-series reporting primitive the
  * reference's cumulative dashboard (running monthly totals,
  * `sql/views/vw_sales_product_geo.View.sql`'s aggregate family) never
  * needed but every operational dashboard over event-shaped data does.
  * A ROWS frame (q40's cumulative) counts physical rows; a RANGE frame
  * bounds the frame by VALUE distance — all rows within the trailing
  * `windowDays` DAYS, however many there are, with same-day rows as
  * peers (every same-day row sees the identical frame, so the result
  * is deterministic under any physical row order — the property that
  * makes the hash-compare oracle sound).
  *
  * Exactness: the rolled sum is a DECIMAL(18,2) sum (order-independent,
  * no float accumulation) cast to double only on output; day distance
  * is exact integer epoch-day arithmetic.
  *
  * Scale shape (100 TB): ONE hash-partition exchange on the key, then
  * an in-partition sort — Spark's WindowExec evaluates the sliding
  * RANGE frame with two moving pointers per partition (no per-row
  * rescan); nothing ever moves to a single partition (the key is
  * mandatory here precisely because an unkeyed global RANGE window
  * would). Skewed keys bound the frame by their own row count, not the
  * corpus; a per-customer history fits an executor by construction. */
object Rolling {

  private val D = DecimalType(18, 2)

  /** Trailing-`windowDays` rolling sum + count of `valCol` per `keyCol`
    * ordered by the DATE of `tsCol`.
    *
    * @return one row per input row: (key, epoch_day, day, roll_sum
    *         double, roll_n long) — `epoch_day` is days since
    *         1970-01-01, `day` its yyyy-MM-dd render. */
  def trailingSumCount(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1 && windowDays <= 3650,
      s"trailingSumCount: windowDays must be in [1, 3650]: $windowDays")
    val day = datediff(col(tsCol).cast("date"), lit("1970-01-01").cast("date"))
      .cast("long")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("epoch_day"))
      .rangeBetween(-(windowDays - 1L), 0L)
    df.select(col(keyCol), day.as("epoch_day"),
        col(valCol).cast(D).as("__v"))
      .withColumn("roll_sum", sum(col("__v")).over(w).cast(DoubleType))
      .withColumn("roll_n", count(lit(1)).over(w))
      .select(col(keyCol), col("epoch_day"),
        date_format(
          date_add(lit("1970-01-01").cast("date"),
            col("epoch_day").cast("int")), "yyyy-MM-dd").as("day"),
        col("roll_sum"), col("roll_n"))
  }
}
