package graft

import org.apache.spark.sql.graftshim.ManifestRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Partition typing of the manifest-backed FileIndex: the inference
  * ladder must match what Spark's own directory inference (the old
  * explicit-path read) would produce — int, long, double, date — and
  * REFUSE loudly (never silently re-type) the two shapes it cannot
  * reproduce losslessly: integral-beyond-long (Spark: exact
  * DecimalType; a double would corrupt the value and equality
  * predicates would miss rows) and timestamps (session-zone parsing). */
class ManifestRelationSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_mrel_${System.nanoTime()}")
    f.deleteOnExit()
    f
  }

  test("date-partitioned layout types DateType with correct values " +
    "(same parser as Spark's inference, lenient forms included)") {
    val dir = freshDir()
    Seq((java.sql.Date.valueOf("2024-01-01"), 1L),
      (java.sql.Date.valueOf("2024-03-15"), 2L))
      .toDF("d", "x")
      .write.partitionBy("d").parquet(dir.toString)
    val files = java.nio.file.Files.walk(dir.toPath).iterator()
    val rels = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet") && !p.getFileName.toString
          .startsWith(".")) {
        rels += dir.toPath.relativize(p).toString -> p.toFile.length()
      }
    }
    val df = ManifestRelation.parquet(spark, dir.toString, rels.toSeq)
    assert(df.schema("d").dataType == DateType)
    assert(df.select("d", "x").as[(java.sql.Date, Long)].collect().sortBy(_._2)
      .toSeq == Seq(java.sql.Date.valueOf("2024-01-01") -> 1L,
        java.sql.Date.valueOf("2024-03-15") -> 2L))
    // pruning on the typed column reaches the index
    assert(df.where(col("d") === lit(java.sql.Date.valueOf("2024-03-15")))
      .count() == 1)
  }

  test("double-valued partitions type DoubleType; integral-beyond-long " +
    "and timestamp values refuse loudly naming Spark's type") {
    // inference runs before any footer I/O, so refusals need no files
    val dec = intercept[IllegalArgumentException] {
      ManifestRelation.parquet(spark, "/nonexistent_store",
        Seq("uid=12345678901234567890123/f.parquet" -> 10L))
    }
    assert(dec.getMessage.contains("DecimalType") &&
      dec.getMessage.contains("integral-beyond-long"), dec.getMessage)
    val ts = intercept[IllegalArgumentException] {
      ManifestRelation.parquet(spark, "/nonexistent_store",
        Seq("t=2024-01-01 00%3A30%3A00/f.parquet" -> 10L))
    }
    assert(ts.getMessage.contains("TimestampType"), ts.getMessage)
    // doubles survive: a real one-file layout under a v=0.5 dir
    val dir = freshDir()
    Seq((0.5, 1L), (1.5, 2L)).toDF("v", "x")
      .write.partitionBy("v").parquet(dir.toString)
    val rels = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    java.nio.file.Files.walk(dir.toPath).iterator().forEachRemaining { p =>
      if (p.toString.endsWith(".parquet") && !p.getFileName.toString
          .startsWith("."))
        rels += dir.toPath.relativize(p).toString -> p.toFile.length()
    }
    val df = ManifestRelation.parquet(spark, dir.toString, rels.toSeq)
    assert(df.schema("v").dataType == DoubleType)
    assert(df.select(sum(col("v"))).as[Double].head() == 2.0)
  }

  test("a non-null column in the schema-source file stays nullable: " +
    "null rows of the store's other files still match IS NULL") {
    val dir = freshDir()
    // the 5,000-row file (largest, so the schema source) is written
    // from a frame whose `s` is non-null; the 10-row file holds nulls
    spark.range(5000).select(col("id"), lit("x").as("s"))
      .coalesce(1).write.parquet(dir.toString)
    spark.range(10).select(col("id"), lit(null).cast("string").as("s"))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val rels = dir.listFiles().filter(f => f.getName.endsWith(".parquet") &&
      !f.getName.startsWith(".")).map(f => f.getName -> f.length()).toSeq
    assert(rels.length == 2)
    val df = ManifestRelation.parquet(spark, dir.toString, rels)
    assert(df.schema("s").nullable)
    assert(spark.read.parquet(dir.toString).where(col("s").isNull)
      .count() == 10)
    assert(df.where(col("s").isNull).count() == 10)
  }

  test("schema cache holds at most 256 footers; evictSchemas drops a " +
    "store's entries") {
    val dir = freshDir()
    // one job, one input partition per core, >= 300 rows each: every
    // round-robin output partition is non-empty, so 300 files land
    spark.range(3000).repartition(300).write.parquet(dir.toString)
    val files = dir.listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).sorted
    assert(files.length == 300)
    files.foreach(f => ManifestRelation.dataSchemaOf(spark, dir.toString, f))
    assert(ManifestRelation.schemaCacheSize == 256)
    // the 256 survivors are the most recent puts, all under `dir`
    ManifestRelation.evictSchemas(dir.toString)
    assert(ManifestRelation.schemaCacheSize == 0)
  }
}
