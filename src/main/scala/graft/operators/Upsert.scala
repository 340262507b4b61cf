package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert building blocks — the reference's T-SQL `NOT EXISTS` insert /
  * `INNER JOIN ... UPDATE` pair re-expressed over immutable DataFrames
  * (SURVEY.md §2.3 J1/J2; /root/reference/etl/order_info_etl.py:409-455).
  *
  * Scale notes: the dim side of these joins is small by construction
  * (platforms, products, dates), so the anti/left joins broadcast; the
  * incoming batch never shuffles on its own key.
  */
object Upsert {

  /** J1: anti-join insert — rows of `incoming` whose `keys` are unseen in
    * `dim`, appended. `SELECT ... WHERE NOT EXISTS (...)` == left_anti. */
  def antiJoinInsert(dim: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val newRows = incoming
      .select(dim.columns.map(col): _*)
      .join(broadcast(dim.select(keys.map(col): _*)), keys, "left_anti")
      .dropDuplicates(keys)
    dim.unionByName(newRows)
  }

  /** J2: coalesce-update — enrich `dim` from `updates`: for each key match,
    * fill NULL attribute values from the update side (reference backfills
    * customer state/postal and product names via COALESCE).
    * `preferUpdate=false` keeps existing non-NULL values (reference
    * semantics: `COALESCE(dim.x, upd.x)` / guarded `WHERE dim.x IS NULL`).
    */
  def coalesceUpdate(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                     attrs: Seq[String], preferUpdate: Boolean = false): DataFrame = {
    val upd = updates
      .select((keys ++ attrs).map(col): _*)
      .dropDuplicates(keys)
      .select(keys.map(col) ++ attrs.map(a => col(a).as(s"__upd_$a")): _*)
    val joined = dim.join(broadcast(upd), keys, "left")
    val merged = attrs.foldLeft(joined) { (df, a) =>
      val c = if (preferUpdate) coalesce(col(s"__upd_$a"), col(a))
              else coalesce(col(a), col(s"__upd_$a"))
      df.withColumn(a, c)
    }
    merged.select(dim.columns.map(col): _*)
  }

  /** J2 variant: row-guarded overwrite — where `guard` holds on the dim row
    * (e.g. "state IS NULL OR postal IS NULL"), overwrite ALL `attrs` from
    * the update side (matching the reference's UPDATE ... SET both columns
    * under one WHERE, /root/reference/etl/order_info_etl.py:442-455 — note
    * it can overwrite a non-null column with NULL; faithful by design). */
  def guardedOverwrite(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                       attrs: Seq[String], guard: DataFrame => Column): DataFrame = {
    val upd = updates
      .select((keys ++ attrs).map(col): _*)
      .dropDuplicates(keys)
      .select(keys.map(col) ++ attrs.map(a => col(a).as(s"__upd_$a"))
        :+ lit(true).as("__upd_matched"): _*)
    // materialize the guard BEFORE mutating attrs: it must observe the
    // pre-update row (and a withColumn would invalidate its attribute refs)
    val joined = dim.join(broadcast(upd), keys, "left")
      .withColumn("__guard", guard(dim) && coalesce(col("__upd_matched"), lit(false)))
    val merged = attrs.foldLeft(joined) { (df, a) =>
      df.withColumn(a, when(col("__guard"), col(s"__upd_$a")).otherwise(col(a)))
    }
    merged.select(dim.columns.map(col): _*)
  }

  /** Idempotent fact append: only batch rows whose business grain is
    * unseen in the existing fact are added — fixes the reference's
    * fact-duplication on re-run (its staging truncate-reload makes dim
    * upserts idempotent but the fact INSERT..SELECT is not).
    *
    * Both sides are fact-sized, so this is a shuffled (sort-merge) anti
    * join on the grain — NOT broadcast. At warehouse scale, restrict
    * `existing` to the partitions the batch can touch (date range) before
    * calling, and the anti join prunes to the affected partitions. */
  def idempotentFactAppend(existing: DataFrame, batch: DataFrame,
                           grain: Seq[String]): DataFrame =
    existing.unionByName(
      batch.join(existing.select(grain.map(col): _*).dropDuplicates(grain),
        grain, "left_anti"))

  /** SCD Type-2 apply: version the dimension instead of overwriting it —
    * the warehouse answer to "what segment was this customer in when the
    * order shipped?". Given the current dimension (each key has exactly
    * one `currentCol = true` row; closed versions carry their validity
    * window) and an update batch (one row per key — feed a deduped
    * batch; conflicting same-key rows have no defined winner):
    *
    *  - a matched key whose `attrs` DIFFER (null-safely) closes its
    *    current row (`validToCol = effectiveDate`, current = false) and
    *    inserts the update as the new current version;
    *  - a matched key with IDENTICAL attrs is untouched — so re-applying
    *    the same batch is a no-op (idempotent re-run contract, same as
    *    the reference's dim upserts);
    *  - an unseen key inserts as a brand-new current row;
    *  - closed history rows pass through untouched.
    *
    * Validity bounds are ISO-date STRINGS (sortable, engine-portable,
    * no timezone semantics to disagree on); open rows end at
    * `endOfTime`.
    *
    * Scale shape: the update batch broadcasts (dims are small relative
    * to facts; a batch is smaller still) — the big side never shuffles.
    * Two passes over the current partition (adjust + changed-version
    * projection), one over history; all narrow after the broadcast
    * joins. */
  def scd2Apply(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                attrs: Seq[String], effectiveDate: String,
                validFromCol: String = "valid_from",
                validToCol: String = "valid_to",
                currentCol: String = "is_current",
                endOfTime: String = "9999-12-31"): DataFrame = {
    require(attrs.nonEmpty, "scd2Apply needs at least one tracked attribute")
    require(effectiveDate < endOfTime,
      s"effectiveDate $effectiveDate must precede endOfTime $endOfTime")
    val upd = updates.select(
      keys.map(col) ++ attrs.map(a => col(a).as(s"__upd_$a")): _*)
    // a NULL current flag (legacy load, nullable column) counts as
    // history: `where(col)` and `where(!col)` BOTH reject NULL, which
    // would silently drop the row from the returned full dimension
    val curFlag = coalesce(col(currentCol), lit(false))
    val current = dim.where(curFlag)
    val history = dim.where(!curFlag)
    val changed = attrs.map(a => !(col(a) <=> col(s"__upd_$a"))).reduce(_ || _)
    // explicit match marker: "any __upd_* is non-null" cannot detect a
    // match when updates legitimately carry null attrs
    val updMarked = upd.withColumn("__matched", lit(true))
    val adjusted = current.join(broadcast(updMarked), keys, "left")
      .withColumn("__chg", coalesce(col("__matched"), lit(false)) && changed)
      .select(dim.columns.map {
        case c if c == validToCol =>
          when(col("__chg"), lit(effectiveDate)).otherwise(col(validToCol))
            .as(validToCol)
        case c if c == currentCol =>
          when(col("__chg"), lit(false)).otherwise(col(currentCol))
            .as(currentCol)
        case c => col(c)
      }: _*)
    val newVersions = current.join(broadcast(updMarked), keys, "inner")
      .where(changed)
      .select(dim.columns.map {
        case c if attrs.contains(c) => col(s"__upd_$c").as(c)
        case c if c == validFromCol => lit(effectiveDate).as(validFromCol)
        case c if c == validToCol => lit(endOfTime).as(validToCol)
        case c if c == currentCol => lit(true).as(currentCol)
        case c => col(c)
      }: _*)
    val newKeys = updates
      .join(broadcast(current.select(keys.map(col): _*)), keys, "left_anti")
      .select(dim.columns.map {
        case c if attrs.contains(c) || keys.contains(c) => col(c)
        case c if c == validFromCol => lit(effectiveDate).as(validFromCol)
        case c if c == validToCol => lit(endOfTime).as(validToCol)
        case c if c == currentCol => lit(true).as(currentCol)
        case c => lit(null).as(c) // untracked dim columns default null
      }: _*)
    history.unionByName(adjusted).unionByName(newVersions)
      .unionByName(newKeys)
  }

  /** CDC change-set apply — the full MERGE the J1/J2 halves compose
    * into, plus the piece neither has: DELETES. A change batch carries
    * (keys..., op, seq, attrs...) with op ∈ {I, U, D}; per key the
    * LATEST change wins (max `seqCol`; ties — caller error, but broken
    * deterministically by (op, then every non-key column ascending in
    * base column order) so re-runs and engines agree), then:
    *
    *  - winner D: the key disappears from the result;
    *  - winner I/U: the winner's attribute values replace (or insert)
    *    the key's row wholesale — I-vs-U carry no semantic difference
    *    at apply time (upsert semantics; the distinction is audit
    *    metadata from the capture side);
    *  - keys with no change pass through untouched.
    *
    * Scale shape (100 TB base, batch-sized changes): ONE window over
    * the CHANGES (batch-keyed, never the base), then the base takes a
    * single anti join against the distinct changed-key set — AQE
    * broadcasts it when the batch is small and shuffles it otherwise —
    * and the surviving winners union in. The base is never windowed,
    * never shuffled beyond that one join. */
  def applyChangeSet(base: DataFrame, changes: DataFrame, keys: Seq[String],
                     opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val valueCols = base.columns.filterNot(keys.contains)
    val ordering = col(seqCol).desc +: col(opCol).asc +:
      valueCols.toSeq.map(c => col(c).asc)
    val winners = changes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)))
      .where(col("__rn") === 1)
      .localCheckpoint()
    base.join(winners.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(winners.where(upper(col(opCol)) =!= "D")
        .select(base.columns.map(col): _*))
  }

  /** IDENTITY-style surrogate keys for newly inserted rows: contiguous ids
    * `startAfter+1 ...` in the explicit business-key ordering, assigned
    * deterministically (unlike monotonically_increasing_id), matching how
    * the reference's tests must compare on business keys anyway
    * (SURVEY.md §7.4).
    *
    * The batch is snapshotted (`localCheckpoint`) first: key assignment
    * needs more than one pass over it, and each extra action would
    * otherwise re-run the upstream cleaning pipeline (measured ~2×
    * slowdown of the whole ETL without it).
    *
    * Batches up to `smallBatchRows` (the common dim case) take a
    * single-partition window over the SNAPSHOT — a bounded frame, the
    * documented tiny-frame exception. Larger batches take the
    * distributed formulation with NO single-task sort: range-repartition
    * on the ordering (partition i's keys all precede partition j's for
    * i<j), per-partition `row_number`, then per-partition counts
    * collected (bounded driver state — one long per partition, never
    * data) and turned into broadcast start offsets. Both paths produce
    * IDENTICAL ids when the ordering is unique (UpsertSpec asserts
    * parity); ties order arbitrarily in either. */
  def withSurrogateKeys(newRows: DataFrame, idCol: String, orderBy: Seq[Column],
                        startAfter: Long, smallBatchRows: Long = 1L << 20): DataFrame = {
    import newRows.sparkSession.implicits._
    val outCols = newRows.columns.filterNot(_ == idCol).map(col) :+ col(idCol)
    // LAZY checkpoint (r19): the size probe right below is the action
    // that materializes the snapshot, so snapshot and probe share ONE
    // driver job instead of two per upsert batch (the ETL queries pay
    // this twice per warehouse load); every later pass reads blocks.
    val snap = newRows.localCheckpoint(false)
    if (snap.count() <= smallBatchRows)
      return snap.withColumn(idCol,
        row_number().over(Window.orderBy(orderBy: _*)).cast("long") + startAfter)
        .select(outCols: _*)
    val parts = snap.repartitionByRange(orderBy: _*)
      .withColumn("__pid", spark_partition_id())
    var acc = 0L
    val offsets = parts.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      .map { case (pid, n) => val o = acc; acc += n; (pid, o) }
    parts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(orderBy: _*)))
      .join(broadcast(offsets.toSeq.toDF("__pid", "__offset")), Seq("__pid"))
      .withColumn(idCol, col("__offset") + col("__rn").cast("long") + startAfter)
      .select(outCols: _*)
  }
}
