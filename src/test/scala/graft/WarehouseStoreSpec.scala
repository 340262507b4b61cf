package graft

import graft.etl.OrderEtl
import graft.operators.StoreSwap
import graft.sources.WarehouseStore
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Warehouse persistence on the manifest protocol: partitioned layout,
  * round-trip fidelity, partition pruning reaching the scan, reader
  * isolation through append/compact (the fact table was the last store
  * with reader-visible swap windows), crash-before-flip invisibility,
  * and whole-warehouse time travel. */
class WarehouseStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val fact = Seq(
      (1L, "ORD-1", java.sql.Date.valueOf("2024-01-01"), 1L, 10L, 1L, 2, BigDecimal(0), "NJ"),
      (2L, "ORD-2", java.sql.Date.valueOf("2024-02-15"), 2L, 11L, 1L, 1, BigDecimal(0), "FL"),
      (3L, "ORD-3", java.sql.Date.valueOf("2025-01-03"), 1L, 12L, 2L, 3, BigDecimal(0), "CA"))
      .toDF("fact_id", "order_id", "date_id", "product_id", "customer_id",
        "platform_id", "units", "revenue", "state_code")
    OrderEtl.emptyWarehouse(spark).copy(factSales = fact)
  }

  private def factRows(dir: String, asOf: Option[Int] = None) =
    WarehouseStore.loadFact(spark, dir, asOf)
      .orderBy("fact_id").collect().map(_.toSeq).toSeq

  test("save/load round-trip preserves fact rows; partition dirs exist; " +
    "a path without a manifest refuses loudly") {
    val dir = Files.createTempDirectory("graft-wh").toString
    WarehouseStore.save(wh, dir)
    assert(new java.io.File(s"$dir/fact_sales/p_year=2024/p_month=1").exists())
    assert(new java.io.File(s"$dir/fact_sales/p_year=2025/p_month=1").exists())
    val back = WarehouseStore.load(spark, dir)
    assert(back.factSales.count() == 3)
    assert(back.factSales.columns.sorted.toSeq == wh.factSales.columns.sorted.toSeq)
    val units = back.factSales.orderBy("fact_id").select("units").as[Int].collect()
    assert(units.toSeq == Seq(2, 1, 3))
    val e = intercept[IllegalArgumentException] {
      WarehouseStore.load(spark,
        Files.createTempDirectory("graft-wh-none").toString)
    }
    assert(e.getMessage.contains("no manifest"), e.getMessage)
  }

  test("append + compaction: content invariant behind ONE flip, small " +
    "files folded, product_id clustering restored, scoped years " +
    "untouched, pinned pre-compact reader keeps the uncompacted " +
    "file-set, vacuum reclaims the superseded inputs") {
    val dir = Files.createTempDirectory("graft-wh3").toString
    // 5 appends of the same fact = 5 small files per touched partition
    WarehouseStore.saveFact(wh.factSales, dir) // v1
    (1 to 4).foreach { i =>
      val batch = wh.factSales.withColumn("fact_id", col("fact_id") + lit(i * 10L))
      WarehouseStore.saveFact(batch, dir, SaveMode.Append) // v2..v5
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifestFiles(sub: String): Int =
      StoreSwap.latestManifest(fs, dir).get._2
        .count(_.startsWith(s"fact_sales/$sub/"))
    assert(manifestFiles("p_year=2024/p_month=1") >= 5)
    val before = factRows(dir)
    assert(before.length == 15)
    WarehouseStore.compactFact(spark, dir) // v6
    assert(manifestFiles("p_year=2024/p_month=1") == 1) // tiny -> one file
    assert(manifestFiles("p_year=2025/p_month=1") == 1)
    assert(factRows(dir) == before, "compaction changed content")
    // pruning still works over the compacted layout
    assert(WarehouseStore.loadFactYear(spark, dir, 2025).count() == 5)
    // the pre-compact version is still a complete pinned snapshot
    // (copy-on-write: the flip unlisted the small files, deleted nothing)
    assert(factRows(dir, asOf = Some(5)) == before,
      "pinned pre-compact reader lost files")
    // scoped compaction is a no-op when nothing multi-file matches
    val vBefore = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, dir), dir)
    WarehouseStore.compactFact(spark, dir, years = Some(Seq(2024)))
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, dir), dir) == vBefore,
      "a nothing-to-do compaction committed a version")
    // vacuum to 1 version: the superseded small files reclaim, the
    // pre-compact pin then refuses with the retained window named
    assert(WarehouseStore.vacuumWarehouse(spark, dir) > 0L)
    assert(factRows(dir) == before)
    val e = intercept[IllegalArgumentException](factRows(dir, Some(5)))
    assert(e.getMessage.contains("keepVersions"))
  }

  test("reader isolation: crash-before-flip (staged + moved-in files, " +
    "no commit) is invisible to readers; a reader pinned mid-append " +
    "sees the old consistent file-set") {
    val dir = Files.createTempDirectory("graft-wh4").toString
    WarehouseStore.saveFact(wh.factSales, dir) // v1
    val before = factRows(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between move-in and flip: land a foreign parquet
    // file in a live partition dir, unlisted by any manifest
    val alien = new org.apache.hadoop.fs.Path(
      s"$dir/fact_sales/p_year=2024/p_month=1/zz_unflipped.parquet")
    fs.create(alien, true).close()
    assert(factRows(dir) == before,
      "an unlisted (torn-append) file leaked into a manifest-resolved read")
    // real append: the pinned v1 reader keeps the pre-append rows
    WarehouseStore.saveFact(
      wh.factSales.withColumn("fact_id", col("fact_id") + lit(100L)),
      dir, SaveMode.Append) // v2
    assert(factRows(dir).length == 6)
    assert(factRows(dir, asOf = Some(1)) == before,
      "pinned reader saw the append")
    // vacuum reclaims the torn file (and v1's window stays: keep 2)
    assert(WarehouseStore.vacuumWarehouse(spark, dir, keepVersions = 2) >= 1L)
    assert(!fs.exists(alien), "vacuum left the torn file")
    assert(factRows(dir, asOf = Some(1)) == before,
      "keepVersions=2 must retain the v1 snapshot")
  }

  test("first-append crash recovery vs legacy refusal: a torn first " +
    "append's own tagged leftovers re-run cleanly; an untagged " +
    "pre-manifest layout refuses the append loudly") {
    val fsConf = spark.sessionState.newHadoopConf()
    // torn first append: a move-in TAGGED file landed, no manifest —
    // re-running the append is the documented recovery
    val dir = Files.createTempDirectory("graft-wh6").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(fsConf)
    val torn = new org.apache.hadoop.fs.Path(
      s"$dir/fact_sales/p_year=2024/p_month=1/f0123abcd_part-0.parquet")
    fs.mkdirs(torn.getParent)
    fs.create(torn, true).close()
    WarehouseStore.saveFact(wh.factSales, dir, SaveMode.Append)
    assert(factRows(dir).length == 3, "torn-bootstrap retry must succeed")
    // the torn leftover is unlisted garbage; vacuum reclaims it
    assert(WarehouseStore.vacuumWarehouse(spark, dir) == 1L)
    assert(!fs.exists(torn))
    // legacy: plain Spark part files, no manifest — append refuses
    val dir2 = Files.createTempDirectory("graft-wh7").toString
    val legacy = new org.apache.hadoop.fs.Path(
      s"$dir2/fact_sales/p_year=2024/p_month=1/part-00000-abc.parquet")
    fs.mkdirs(legacy.getParent)
    fs.create(legacy, true).close()
    val e = intercept[IllegalArgumentException] {
      WarehouseStore.saveFact(wh.factSales, dir2, SaveMode.Append)
    }
    assert(e.getMessage.contains("legacy") &&
      e.getMessage.contains("re-save"), e.getMessage)
    // compactFact refuses the same manifest-less dir loudly (never
    // success-shaped silence while the small-file problem stays)
    val ce = intercept[IllegalArgumentException](
      WarehouseStore.compactFact(spark, dir2))
    assert(ce.getMessage.contains("no manifest"), ce.getMessage)
  }

  test("whole-warehouse time travel: a truncate-reload (save) supersedes " +
    "the old warehouse without deleting it; the pinned old version " +
    "round-trips dims AND fact") {
    val dir = Files.createTempDirectory("graft-wh5").toString
    WarehouseStore.save(wh, dir) // v1
    val v1Fact = factRows(dir)
    val grown = wh.copy(factSales = wh.factSales
      .unionAll(wh.factSales.withColumn("fact_id", col("fact_id") + lit(7L))))
    WarehouseStore.save(grown, dir) // v2: reload with 6 rows
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, dir), dir) == Seq(1, 2))
    assert(factRows(dir).length == 6)
    val old = WarehouseStore.load(spark, dir, asOfVersion = Some(1))
    assert(old.factSales.count() == 3)
    assert(factRows(dir, Some(1)) == v1Fact)
    assert(old.dimDate.columns.nonEmpty) // dims resolve at the pin too
  }

  test("append schema-drift guard: a missing column, an unknown column, " +
    "and a retyped column refuse loudly naming the drift; reordered " +
    "columns and a loadFact round-trip (derived partition cols carried) " +
    "append fine; Overwrite redefines the schema by design") {
    val dir = Files.createTempDirectory("graft-wh6").toString
    WarehouseStore.saveFact(wh.factSales, dir) // v1
    def appending(df: org.apache.spark.sql.DataFrame) =
      WarehouseStore.saveFact(df, dir, SaveMode.Append)
    val missing = intercept[IllegalArgumentException] {
      appending(wh.factSales.drop("state_code"))
    }
    assert(missing.getMessage.contains("missing columns: state_code"),
      missing.getMessage)
    val unknown = intercept[IllegalArgumentException] {
      appending(wh.factSales.withColumn("bonus", lit(1)))
    }
    assert(unknown.getMessage.contains("unknown columns: bonus"),
      unknown.getMessage)
    val retyped = intercept[IllegalArgumentException] {
      appending(wh.factSales.withColumn("units", col("units").cast("long")))
    }
    assert(retyped.getMessage.contains("retyped columns: units") &&
      retyped.getMessage.contains("int") &&
      retyped.getMessage.contains("bigint"), retyped.getMessage)
    assert(factRows(dir).length == 3, "no refused append may commit")
    // column ORDER is not drift
    val reordered = wh.factSales.select(
      wh.factSales.columns.reverse.map(col).toIndexedSeq: _*)
      .withColumn("fact_id", col("fact_id") + lit(100L))
    appending(reordered)
    assert(factRows(dir).length == 6)
    // a loadFact round-trip carries p_year/p_month — recomputed by
    // stageFact, not drift
    val roundTrip = WarehouseStore.loadFact(spark, dir)
      .where(col("fact_id") <= 3L)
      .withColumn("fact_id", col("fact_id") + lit(200L))
    appending(roundTrip)
    assert(factRows(dir).length == 9)
    // truncate-reload legitimately changes the schema
    WarehouseStore.saveFact(wh.factSales.drop("state_code"), dir)
    assert(WarehouseStore.loadFact(spark, dir).columns.toSet ==
      wh.factSales.columns.toSet - "state_code" + "p_year" + "p_month")
    // and the NEW schema governs later appends
    appending(wh.factSales.drop("state_code")
      .withColumn("fact_id", col("fact_id") + lit(300L)))
    intercept[IllegalArgumentException] { appending(wh.factSales) }
  }

  test("loadFactYear prunes at the manifest expansion and matches the " +
    "unpruned filtered read; an absent year yields the empty frame, " +
    "not a refusal") {
    val dir = Files.createTempDirectory("graft-wh7").toString
    WarehouseStore.save(wh, dir)
    (1 to 3).foreach { i =>
      WarehouseStore.saveFact(wh.factSales
        .withColumn("fact_id", col("fact_id") + lit(i * 10L)),
        dir, SaveMode.Append)
    }
    val pruned = WarehouseStore.loadFactYear(spark, dir, 2024)
      .orderBy("fact_id").collect().map(_.toSeq).toSeq
    val full = WarehouseStore.loadFact(spark, dir)
      .where(col("p_year") === 2024)
      .orderBy("fact_id").collect().map(_.toSeq).toSeq
    assert(pruned == full && pruned.length == 8)
    assert(WarehouseStore.loadFactYear(spark, dir, 1900).count() == 0)
  }

  test("date-range predicates prune partitions at the scan " +
    "(manifest-resolved read keeps PartitionFilters)") {
    val dir = Files.createTempDirectory("graft-wh2").toString
    WarehouseStore.save(wh, dir)
    val pruned = WarehouseStore.loadFact(spark, dir)
      .where(col("p_year") === 2024 && col("p_month") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("p_year") || plan.contains("dynamicpruning")), plan)
    assert(pruned.count() == 1)
  }
}
