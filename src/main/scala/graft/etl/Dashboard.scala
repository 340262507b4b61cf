package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Power BI layer's queries as a typed API over the semantic view
  * (SURVEY.md §2.4 A7 and A9-A11, §2.5 W1-W2).
  *
  * `view` is [[SemanticView.salesProductGeo]] output. All are
  * aggregate-then-window plans: the window's single-partition stage only
  * ever sees the (tiny) aggregated frame, never the fact rows.
  */
object Dashboard {

  /** Grand-total window over the AGGREGATED frame — the input is the
    * grouped result (|states|, |platforms| rows), never fact rows, so the
    * single-partition stage is deliberate and tiny.
    *
    * Two formulations, picked by group-key cardinality:
    *  - FEW groups (these dashboards): this window — ONE traversal of the
    *    expensive aggregate; the single-partition stage sees dozens of rows.
    *  - MANY groups (per-product/per-customer shares): cross-join a
    *    MATERIALIZED aggregate with its broadcast single-row total — the
    *    window would serialize millions of group rows through one task,
    *    while a scalar agg + broadcast join stays parallel. (Unmaterialized
    *    input would be traversed twice — measured slower here: q43 2.7s ->
    *    3.6s when this was a broadcast over the live ETL pipeline.)
    */
  private val grandTotal = Window.partitionBy()

  /** A7+W1: units by state with % of grand total (executive overview). */
  def unitsByState(view: DataFrame): DataFrame = {
    val agg = view.groupBy(col("state_code")).agg(sum(col("units")).as("units"))
    agg.withColumn("pct_of_total",
      round(col("units") / sum(col("units")).over(grandTotal) * 100, 2))
      .orderBy(col("units").desc)
  }

  /** A9+W1: units and share by platform. */
  def platformShare(view: DataFrame): DataFrame = {
    val agg = view.groupBy(col("platform")).agg(sum(col("units")).as("units"))
    agg.withColumn("platform_pct",
      round(col("units") / sum(col("units")).over(grandTotal) * 100, 2))
      .orderBy(col("units").desc)
  }

  /** A10: pivot matrix state × platform (named platforms as columns). */
  def platformByStatePivot(view: DataFrame, platforms: Seq[String]): DataFrame =
    view.where(col("platform").isInCollection(platforms))
      .groupBy(col("state_code"))
      .pivot("platform", platforms)
      .sum("units")
      .na.fill(0, platforms)

  /** A11: day-of-week trend (Monday=1 ordering). */
  def dowTrend(view: DataFrame): DataFrame =
    view.groupBy(col("day_of_week"), col("day_name"))
      .agg(sum(col("units")).as("units"))
      .orderBy(col("day_of_week"))

  /** W2: leading platform per state (rank-1 within partition). */
  def platformRankByState(view: DataFrame): DataFrame = {
    val agg = view.groupBy(col("state_code"), col("platform"))
      .agg(sum(col("units")).as("units"))
    val w = Window.partitionBy(col("state_code"))
      .orderBy(col("units").desc, col("platform"))
    agg.withColumn("rank", row_number().over(w)).where(col("rank") === 1)
      .select(col("state_code"), col("platform"), col("units"))
  }
}
