package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys — the manual fallback when AQE's
  * skew-join splitting isn't available (e.g. the skewed side feeds a
  * non-shuffle operator, or the skew is in a broadcast-ineligible
  * medium-sized dim).
  *
  * Mechanics: the probe (large, skewed) side gets a deterministic salt in
  * [0, factor) derived from a hash of its non-key columns; the build side
  * is replicated `factor`× with every salt value. The join key becomes
  * (keys..., salt), splitting each hot key's rows across `factor`
  * reducers. Result set is identical to the unsalted join (verified by
  * SkewJoinSpec).
  *
  * At 100 TB: use AQE (`spark.sql.adaptive.skewJoin.enabled`) first; use
  * this when the skew is known and stable (e.g. the null/default key that
  * holds 30% of rows) — or isolate such keys entirely and union.
  */
object SkewJoin {

  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(factor > 1, "salt factor must be > 1")
    // deterministic per-row salt: hash of the whole probe row (keys
    // included so single-column frames still spread)
    val salted = probe.withColumn("__salt",
      pmod(hash(probe.columns.map(col): _*), lit(factor)))
    val replicated = build.withColumn("__salt",
      explode(array((0 until factor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}
