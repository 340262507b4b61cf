package graft.sources

import graft.etl.OrderEtl.Warehouse
import graft.operators.StoreSwap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse persistence (SURVEY.md §2.1 S4-S7): dims as parquet
  * (they're KB-MB at any scale), the fact table partitioned by
  * (year, month) of date_id — ON THE MANIFEST PROTOCOL, like every
  * other persisted artifact in this engine ([[StoreSwap]]): one
  * warehouse manifest at `path` covers all five directories, every
  * reader resolves the file-set through it, and every write verb is
  * copy-on-write behind ONE CAS-committed flip. The fact table was the
  * last store with reader-visible swap windows (the old compactFact's
  * delete-then-rename) and "recover manually" crash messages; now a
  * reader mid-compaction keeps a complete month at every instant, a
  * crash before the flip changes nothing visible, re-running is always
  * the recovery, and [[load]]'s `asOfVersion` is a snapshot read of
  * the whole warehouse (pre-compact, pre-append, pre-reload).
  *
  * Why this layout at 100 TB: the dashboard/view queries all constrain
  * or group on date attributes, so date partitioning turns them into
  * partition-pruned scans (manifest-resolved reads recover the
  * partition columns via basePath, so `PartitionFilters` still land at
  * the scan — PlanShapeSpec gates it); within a partition, parquet
  * row-group stats give min/max pruning on the remaining predicates.
  * [[save]] is the truncate-reload idempotence of the reference (S5) —
  * a re-save continues the version chain with a manifest listing only
  * the new file-set; `SaveMode.Append` on [[saveFact]] is the
  * incremental load path. fact files are written pre-sorted by
  * product_id so per-product rollups read clustered row groups.
  */
object WarehouseStore {

  private val DimDirs =
    Seq("dim_date", "dim_customer", "dim_product", "dim_platform")
  private val AllDirs = DimDirs :+ "fact_sales"

  private def fsOf(spark: SparkSession, path: String) =
    StoreSwap.fsOf(spark, path)

  /** True iff `path` holds a committed warehouse. */
  def ready(spark: SparkSession, path: String): Boolean =
    StoreSwap.latestManifest(fsOf(spark, path), path).nonEmpty

  private def requireWh(fs: org.apache.hadoop.fs.FileSystem, path: String,
                        verb: String): (Int, Seq[String]) =
    StoreSwap.latestManifest(fs, path)
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: $path is not a committed warehouse layout (no manifest) — " +
          "write it with WarehouseStore.save/saveFact"))

  private def resolve(fs: org.apache.hadoop.fs.FileSystem, path: String,
                      asOfVersion: Option[Int],
                      verb: String): (Int, Seq[String]) =
    asOfVersion.map(v => StoreSwap.manifestAt(fs, path, v))
      .getOrElse(requireWh(fs, path, verb))

  /** Name+type comparison for the append guard: order-insensitive,
    * nullability-insensitive (an append may be stricter or looser on
    * nulls — parquet carries no enforcement), loud on any drift. */
  private def requireSchemaMatch(stored: org.apache.spark.sql.types.StructType,
                                 incoming: org.apache.spark.sql.types.StructType,
                                 path: String): Unit = {
    def strip(dt: org.apache.spark.sql.types.DataType)
    : org.apache.spark.sql.types.DataType = dt match {
      case s: org.apache.spark.sql.types.StructType =>
        // metadata reset too: footer-derived fields carry none, and an
        // upstream-attached Metadata on a nested field is not drift
        org.apache.spark.sql.types.StructType(s.fields.map(f =>
          f.copy(dataType = strip(f.dataType), nullable = true,
            metadata = org.apache.spark.sql.types.Metadata.empty)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = strip(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType),
          valueContainsNull = true)
      case other => other
    }
    val want = stored.fields.map(f => f.name -> strip(f.dataType)).toMap
    val have = incoming.fields.map(f => f.name -> strip(f.dataType)).toMap
    val missing = want.keySet -- have.keySet
    val extra = have.keySet -- want.keySet
    val retyped = (want.keySet & have.keySet)
      .filter(n => want(n) != have(n))
      .map(n => s"$n (store ${want(n).simpleString}, " +
        s"batch ${have(n).simpleString})")
    require(missing.isEmpty && extra.isEmpty && retyped.isEmpty,
      s"saveFact(Append): the batch's schema drifts from the committed " +
        s"fact schema at $path — " +
        Seq(
          if (missing.nonEmpty)
            Some(s"missing columns: ${missing.toSeq.sorted.mkString(", ")}")
          else None,
          if (extra.nonEmpty)
            Some(s"unknown columns: ${extra.toSeq.sorted.mkString(", ")}")
          else None,
          if (retyped.nonEmpty)
            Some(s"retyped columns: ${retyped.toSeq.sorted.mkString(", ")}")
          else None
        ).flatten.mkString("; ") +
        ". Appending would commit silently and readers would null-fill " +
        "or fail at scan time; fix the upstream frame, or truncate-" +
        "reload (SaveMode.Overwrite) to redefine the schema")
  }

  /** Stage a partitioned fact frame and move it in copy-on-write;
    * returns the moved files' store-relative paths (no flip here —
    * the caller commits). */
  private def stageFact(fact: DataFrame, path: String,
                        fs: org.apache.hadoop.fs.FileSystem,
                        tag: String): Seq[String] =
    StoreSwap.stageAndMoveIn(fs, path, "fact_sales", "fact", tag)(root =>
      fact
        .withColumn("p_year", year(col("date_id")))
        .withColumn("p_month", month(col("date_id")))
        .repartition(col("p_year"), col("p_month"))
        .sortWithinPartitions(col("product_id"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("p_year", "p_month")
        .parquet(root))

  /** Write (Overwrite) or grow (Append) the fact table behind ONE
    * manifest flip. Overwrite = truncate-reload: the new manifest
    * unlists every prior fact file (they stay on disk for pinned
    * readers until [[vacuumWarehouse]]) while dim entries carry over.
    * Append = the incremental load: prior fact entries carry over and
    * the batch's files join them — a torn append (crash before the
    * flip) is invisible and re-running is the recovery.
    *
    * `filePrefix` (streaming ingest only): a DETERMINISTIC move-in tag
    * (`"b<batchId>_"`) replacing the default verb-unique one, so a
    * replayed micro-batch can find and drop its own partials
    * ([[dropAppendPartials]]) before re-appending — the same
    * exactly-once contract as the other four families' ingests. */
  def saveFact(fact: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite,
               filePrefix: Option[String] = None): Unit = {
    require(mode == SaveMode.Overwrite || mode == SaveMode.Append,
      s"saveFact: unsupported mode $mode")
    val spark = fact.sparkSession
    val fs = fsOf(spark, path)
    val prior = StoreSwap.latestManifest(fs, path)
    // Append onto a manifest-less dir that already HOLDS plain fact
    // files (a legacy pre-manifest warehouse, or one written by another
    // tool): committing a v1 listing only this batch would silently
    // unlist them (and the next vacuum would delete them). Refuse
    // loudly — the only upgrade is a full re-save. A torn FIRST
    // append's own crash leftovers must NOT refuse (re-running is the
    // documented recovery): this verb's files are move-in TAGGED —
    // verb-unique ("<letter><8 hex>_") or a streaming batch tag
    // ("b<id>x<lineage>_") — and only untagged files block the append.
    if (mode == SaveMode.Append && prior.isEmpty) {
      val untagged = StoreSwap.listDirFiles(fs, path, "fact_sales")
        .filterNot(f => f.substring(f.lastIndexOf('/') + 1)
          .matches("^([a-z][0-9a-f]{8}|b[0-9]+x[0-9a-f]+)_.*"))
      if (untagged.nonEmpty)
        throw new IllegalArgumentException(
          s"saveFact: $path/fact_sales holds untagged files but no " +
            "warehouse manifest — a legacy (pre-manifest) layout. " +
            "Appending would commit a manifest listing only this batch " +
            "and orphan the existing data; re-save the full warehouse " +
            s"with WarehouseStore.save (e.g. ${untagged.head})")
    }
    // Schema-drift guard (the one silent-wrongness hole this family
    // had): an Append must carry the store's committed fact schema —
    // same column names and types, any order, nullability free. The
    // committed schema is resolved exactly the way readers resolve it
    // (the largest listed fact file's footer, one CACHED read), so a
    // drifted upstream frame refuses HERE, naming the column, instead
    // of committing and letting readers silently null-fill or fail at
    // scan time far from the cause. Overwrite is exempt by design —
    // truncate-reload legitimately defines a new schema.
    if (mode == SaveMode.Append) prior.foreach { case (_, files) =>
      val factFiles = files.filter(_.startsWith("fact_sales/"))
      if (factFiles.nonEmpty) {
        val largest = StoreSwap.sizesFor(fs, path, factFiles).maxBy(_._2)._1
        val stored = org.apache.spark.sql.graftshim.ManifestRelation
          .dataSchemaOf(spark, path, largest)
        // the derived partition columns are recomputed by stageFact, so
        // a frame carrying them (a loadFact round-trip) is not drift
        requireSchemaMatch(stored, org.apache.spark.sql.types.StructType(
          fact.schema.fields.filterNot(f =>
            f.name == "p_year" || f.name == "p_month")), path)
      }
    }
    val tag = filePrefix
      .getOrElse(s"f${java.util.UUID.randomUUID().toString.take(8)}_")
    val moved = stageFact(fact, path, fs, tag)
    val (version, carried) = prior match {
      case Some((v, files)) =>
        val kept = if (mode == SaveMode.Append) files
                   else files.filterNot(_.startsWith("fact_sales/"))
        (v + 1, kept)
      case None => (1, Seq.empty[String])
    }
    StoreSwap.commitManifest(fs, path, version, carried ++ moved)
  }

  /** Full truncate-reload of the warehouse: dims + fact staged, moved
    * in copy-on-write, ONE manifest flip listing ONLY this save's
    * file-set. Re-saving continues the version chain; the superseded
    * warehouse is vacuum garbage, complete for any pinned reader. */
  def save(wh: Warehouse, path: String): Unit = {
    val spark = wh.factSales.sparkSession
    val fs = fsOf(spark, path)
    val tag = s"s${java.util.UUID.randomUUID().toString.take(8)}_"
    def stageDim(df: DataFrame, dir: String): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "save", tag)(root =>
        df.write.mode(SaveMode.Overwrite).parquet(root))
    val staged =
      stageDim(wh.dimDate, "dim_date") ++
      stageDim(wh.dimCustomer, "dim_customer") ++
      stageDim(wh.dimProduct, "dim_product") ++
      stageDim(wh.dimPlatform, "dim_platform") ++
      stageFact(wh.factSales, path, fs, tag)
    val version = StoreSwap.manifestVersions(fs, path).lastOption
      .getOrElse(0) + 1
    StoreSwap.commitManifest(fs, path, version, staged)
  }

  /** Unlist-then-delete every fact file a streaming batch moved in
    * under its deterministic `filePrefix` tag — the replay-recovery
    * half of the exactly-once contract ([[saveFact]]'s `filePrefix`):
    * a replayed micro-batch first drops its own partials, then
    * re-appends, so the drop + re-apply pair converges from any crash
    * point inside it. One manifest flip unlists (readers never see a
    * half-dropped batch); the physical delete after it is unlisted
    * garbage cleanup a crash leaves to [[vacuumWarehouse]]. */
  def dropAppendPartials(spark: SparkSession, path: String,
                         filePrefix: String): Unit = {
    require(filePrefix.nonEmpty,
      "dropAppendPartials: empty prefix would drop every fact file")
    val fs = fsOf(spark, path)
    StoreSwap.latestManifest(fs, path).foreach { case (v, files) =>
      val (mine, keep) = files.partition(f =>
        f.startsWith("fact_sales/") &&
          f.substring(f.lastIndexOf('/') + 1).startsWith(filePrefix))
      if (mine.nonEmpty) {
        StoreSwap.commitManifest(fs, path, v + 1, keep)
        mine.foreach(f => fs.delete(new Path(s"$path/$f"), false))
      }
    }
  }

  /** Bucketed catalog table: pre-shuffled on `keys` into `numBuckets` so
    * joins/aggregations on those keys skip the exchange entirely (the
    * "co-located join" layout for fact↔fact joins at scale, where neither
    * side broadcasts). Requires a catalog (saveAsTable), unlike the plain
    * parquet paths above. */
  def saveBucketed(df: DataFrame, table: String, keys: Seq[String],
                   numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction for the incrementally-appended fact: every
    * `saveFact(..., Append)` batch adds a file per touched (year, month)
    * directory, and a year of hourly loads turns manifest size and scan
    * task counts into the bottleneck. Rewrites each multi-file partition
    * (multi-file BY THE MANIFEST — unlisted garbage never compacts into
    * the store) into ~`targetBytes` files, restoring the product_id
    * cluster ordering that appends interleave — ONE partition-pruned
    * job across all affected partitions (deterministic content-hash
    * slices for oversized ones, never a per-partition job loop), staged,
    * moved in copy-on-write, ONE manifest flip. A reader sees the old
    * complete file-set or the new one, never a missing month (the
    * delete-then-rename window and its "recover manually" messages are
    * gone); a crash before the flip changes nothing visible and
    * re-running is the recovery.
    *
    * Only partitions matched by `years` (None = all) rewrite — at
    * scale, compaction runs against the recent write window, not the
    * archive. Does NOT vacuum: pass `keepVersions` to
    * [[vacuumWarehouse]] on your retention schedule so routine
    * compaction never collapses the snapshot window. */
  def compactFact(spark: SparkSession, path: String,
                  targetBytes: Long = 128L * 1024 * 1024,
                  years: Option[Seq[Int]] = None): Unit = {
    val fs = fsOf(spark, path)
    // loud on a manifest-less layout, mirroring saveFact: an operator
    // compacting an unmanaged dir must not get success-shaped silence
    // while the small-file problem stays
    val (mfVersion, mfFiles) = requireWh(fs, path, "compactFact")
    def partDir(rel: String): String = {
      val i = rel.lastIndexOf('/')
      rel.substring(0, i)
    }
    def yearOf(dir: String): Int =
      dir.split("/")(1).stripPrefix("p_year=").toInt
    def monthOf(dir: String): Int =
      dir.split("/")(2).stripPrefix("p_month=").toInt
    val groups = mfFiles.filter(_.startsWith("fact_sales/"))
      .filter(_.count(_ == '/') == 3) // fact_sales/p_year=Y/p_month=M/f
      .groupBy(partDir)
      .filter { case (dir, fls) =>
        fls.length > 1 && years.forall(_.contains(yearOf(dir)))
      }
    if (groups.isEmpty) return
    val slices = groups.toSeq.map { case (dir, fls) =>
      val bytes = StoreSwap.sizesFor(fs, path, fls).map(_._2).sum
      (yearOf(dir), monthOf(dir),
        math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
    }.sorted
    val pruned = StoreSwap.readStoreDir(spark, path, "fact_sales",
        groups.values.flatten.toSeq)
    // deterministic content-hash slice for oversized partitions (never
    // repartition on a nondeterministic column — task retries would
    // duplicate or drop rows)
    val sliceExpr = slices.filter(_._3 > 1).foldLeft(lit(0)) {
      case (acc, (y, m, n)) =>
        when(col("p_year") === lit(y) && col("p_month") === lit(m),
          pmod(hash(pruned.columns.map(col): _*), lit(n))).otherwise(acc)
    }
    val tag = s"c${java.util.UUID.randomUUID().toString.take(8)}_"
    val moved = StoreSwap.stageAndMoveIn(fs, path, "fact_sales",
      "compact", tag)(root =>
      pruned.withColumn("__slice", sliceExpr)
        .repartition(slices.map(_._3).sum,
          col("p_year"), col("p_month"), col("__slice"))
        .drop("__slice")
        .sortWithinPartitions(col("product_id"))
        .write.mode(SaveMode.Overwrite).partitionBy("p_year", "p_month")
        .parquet(root))
    val droppedSet = groups.values.flatten.toSet
    StoreSwap.commitManifest(fs, path, mfVersion + 1,
      mfFiles.filterNot(droppedSet) ++ moved)
  }

  /** Drop every file no retained manifest lists — the warehouse's
    * retention verb ([[StoreSwap.vacuumManifested]]: `keepVersions` is
    * the time-travel window, `graceMs` protects in-flight writers).
    *
    * @return number of data files deleted. */
  def vacuumWarehouse(spark: SparkSession, path: String,
                      keepVersions: Int = 1, graceMs: Long = 0L): Long = {
    requireWh(fsOf(spark, path), path, "vacuumWarehouse")
    StoreSwap.vacuumManifested(spark, path, AllDirs, "vacuumWarehouse",
      keepVersions, graceMs)
  }

  /** Manifest-resolved fact read WITH the partition columns (p_year,
    * p_month recovered via basePath, so predicates on them are
    * `PartitionFilters` at the scan). `asOfVersion` pins a retained
    * snapshot — the whole-warehouse time travel. */
  def loadFact(spark: SparkSession, path: String,
               asOfVersion: Option[Int] = None): DataFrame = {
    val fs = fsOf(spark, path)
    val (_, mfFiles) = resolve(fs, path, asOfVersion, "loadFact")
    StoreSwap.readStoreDir(spark, path, "fact_sales", mfFiles)
  }

  /** Partition-pruned fact read, pruned at BOTH metadata layers: the
    * manifest expansion itself ([[StoreSwap.manifestEntriesPruned]] —
    * segments whose recorded prefix can't hold this year's files are
    * never read or parsed, so the driver does O(year) string work, not
    * O(table)) and the scan (the p_year filter is a `PartitionFilters`
    * entry against the already-pruned index). At 100 TB this is the
    * difference between expanding ~800k manifest entries per read and
    * expanding one year's worth. The residual `.where` keeps the plan
    * semantically identical to a filtered [[loadFact]]; a year with no
    * committed partitions falls back to the unpruned read's empty
    * result (same schema, zero rows) instead of refusing. */
  def loadFactYear(spark: SparkSession, path: String, year: Int): DataFrame = {
    val fs = fsOf(spark, path)
    val pruned = StoreSwap.manifestEntriesPruned(fs, path, None,
      s"fact_sales/p_year=$year/", "loadFactYear")
    if (pruned.isEmpty) loadFact(spark, path).where(col("p_year") === year)
    else StoreSwap.readStoreDir(spark, path, "fact_sales", pruned)
      .where(col("p_year") === year)
  }

  def load(spark: SparkSession, path: String,
           asOfVersion: Option[Int] = None): Warehouse = {
    val fs = fsOf(spark, path)
    val (_, mfFiles) = resolve(fs, path, asOfVersion, "load")
    def dim(dir: String): DataFrame =
      StoreSwap.readStoreDir(spark, path, dir, mfFiles)
    Warehouse(
      dimDate = dim("dim_date"),
      dimCustomer = dim("dim_customer"),
      dimProduct = dim("dim_product"),
      dimPlatform = dim("dim_platform"),
      factSales = StoreSwap.readStoreDir(spark, path, "fact_sales", mfFiles)
        .drop("p_year", "p_month"))
  }
}
