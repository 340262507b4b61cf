package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Calendar dimension generation — the reference builds it in pandas from
  * the staged orders' min/max submit date
  * (/root/reference/etl/order_info_etl.py:104-138).
  *
  * Conventions preserved exactly (SURVEY.md §7.4):
  *  - day_of_week is Monday=1..Sunday=7 (pandas weekday+1), NOT Spark's
  *    Sunday=1 `dayofweek` — we use `weekday()+1`;
  *  - is_weekend = Saturday/Sunday;
  *  - month_name full ("January"), day_name 3-letter ("Mon").
  *
  * `sequence+explode` runs on a single row; the result is dim-sized
  * (decades = ~10^4 rows) so this never matters at scale.
  */
object DimDate {

  def calendarCols(d: Column): Seq[Column] = Seq(
    d.as("date_id"),
    year(d).as("year"),
    quarter(d).as("quarter"),
    month(d).as("month"),
    date_format(d, "MMMM").as("month_name"),
    dayofmonth(d).as("day"),
    (weekday(d) + 1).as("day_of_week"),
    (weekday(d) >= 5).as("is_weekend"),
    date_format(d, "EEE").as("day_name"))

  /** Calendar spanning [lo, hi] of `tsCol` in `src` (A6 min/max + generate). */
  def fromColumnRange(src: DataFrame, tsCol: String): DataFrame = {
    val mm = src.agg(to_date(min(col(tsCol))).as("lo"), to_date(max(col(tsCol))).as("hi"))
    val days = mm.select(explode(sequence(col("lo"), col("hi"))).as("d"))
    days.select(calendarCols(col("d")): _*)
  }
}
