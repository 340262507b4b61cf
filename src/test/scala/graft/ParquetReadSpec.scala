package graft

import org.apache.spark.sql.graftshim.ManifestRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** `ManifestRelation.readParquet`, the one parquet reader of main,
  * must be `spark.read.parquet` minus the schema job: the same schema
  * (nullability and field metadata included) for every fixture table, a
  * Spark-written directory and a `k=v` layout; a fresh schema for a
  * file rewritten in place; a loud refusal for an empty directory; and
  * zero Spark jobs to resolve the frame. */
class ParquetReadSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def freshDir(): java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_pread_${System.nanoTime()}")
    f.deleteOnExit()
    f
  }

  private def assertSameSchema(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    val got = ManifestRelation.readParquet(spark, path).schema
    assert(got == want, s"$path:\n$got\nvs\n$want")
    assert(got.json == want.json, path)
  }

  private def withNanosAsLong[T](v: String)(body: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("schema equals spark.read.parquet for every fixture table, " +
    "events under both nanosAsLong settings") {
    Tables.all.filterNot(_ == "events")
      .foreach(t => assertSameSchema(s"$sf/$t.parquet"))
    Seq("true", "false", "true").foreach { v =>
      withNanosAsLong(v)(assertSameSchema(s"$sf/events.parquet"))
    }
  }

  test("schema equals spark.read.parquet for a Spark-written directory " +
    "(with _SUCCESS and .crc files) and a k=v partitioned directory") {
    val dir = freshDir()
    val tagged = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(200).select(col("id"), col("id").cast("string").as("s"),
        array(col("id")).as("a"), struct(col("id").as("x")).as("st"),
        lit("c").as("c", tagged))
      .repartition(3).write.parquet(dir.toString)
    val names = dir.list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertSameSchema(dir.toString)
    val got = ManifestRelation.readParquet(spark, dir.toString)
    assert(got.schema("c").metadata.getString("comment") == "kept")
    assert(got.count() == 200)

    val parts = freshDir()
    spark.range(60).select(col("id"), (col("id") % 3).cast("int").as("p"),
        concat(lit("q"), (col("id") % 2).cast("string")).as("q"))
      .write.partitionBy("p", "q").parquet(parts.toString)
    assertSameSchema(parts.toString)
    val pdf = ManifestRelation.readParquet(spark, parts.toString)
    assert(pdf.where(col("p") === 1 && col("q") === "q0").count() ==
      spark.read.parquet(parts.toString)
        .where(col("p") === 1 && col("q") === "q0").count())
  }

  test("a file rewritten in place is re-read with its new schema") {
    val dir = freshDir()
    dir.mkdirs()
    val target = new java.io.File(dir, "t.parquet")
    def stage(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = freshDir()
      df.coalesce(1).write.parquet(out.toString)
      val part = out.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    stage(spark.range(5).select(col("id").as("x")))
    val before = ManifestRelation.readParquet(spark, target.toString).schema
    assert(before.fieldNames.toSeq == Seq("x"))
    val mtime = target.lastModified()
    stage(spark.range(5).select(col("id").cast("string").as("y"),
      col("id").as("z")))
    // a rewrite lands with a later mtime; pin that so the check does
    // not depend on the filesystem's timestamp resolution
    target.setLastModified(mtime + 2000)
    assertSameSchema(target.toString)
    assert(ManifestRelation.readParquet(spark, target.toString)
      .schema.fieldNames.toSeq == Seq("y", "z"))
  }

  test("an empty directory, or one holding only hidden files, refuses " +
    "loudly as spark.read.parquet does") {
    val empty = freshDir()
    empty.mkdirs()
    intercept[Exception](spark.read.parquet(empty.toString).schema)
    val e = intercept[IllegalArgumentException](
      ManifestRelation.readParquet(spark, empty.toString))
    assert(e.getMessage.contains("no data files"), e.getMessage)
    new java.io.File(empty, "_SUCCESS").createNewFile()
    new java.io.File(empty, ".hidden.parquet").createNewFile()
    intercept[IllegalArgumentException](
      ManifestRelation.readParquet(spark, empty.toString))
    intercept[java.io.FileNotFoundException](
      ManifestRelation.readParquet(spark, s"${empty}_missing"))
  }

  test("resolving the helper's frame starts no Spark job; " +
    "spark.read.parquet starts one for the same footer") {
    val dir = freshDir()
    spark.range(50).selectExpr("id", "id * 2 AS y").coalesce(2)
      .write.parquet(dir.toString)
    // a never-read directory: the footer is read, not cached
    assert(jobsDuring {
      val df = ManifestRelation.readParquet(spark, dir.toString)
      df.queryExecution.analyzed
      df.where(col("y") > 10).queryExecution.optimizedPlan
    } == 0)
    assert(jobsDuring(Tables.all.foreach(t =>
      Tables.load(spark, sf, t).queryExecution.analyzed)) == 0)
    assert(jobsDuring(spark.read.parquet(dir.toString).schema) >= 1)
  }

  test("inputFiles, root paths and _metadata.file_modification_time " +
    "equal spark.read.parquet's for a single file and a directory") {
    val dir = freshDir()
    spark.range(40).selectExpr("id", "id % 3 AS k").repartition(2)
      .write.parquet(dir.toString)
    val file = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .minBy(_.getName)
    file.setLastModified(1700000000000L)
    def rootsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
      }.collect {
        case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          r.location.rootPaths.map(_.toString)
      }.flatten
    // the strings themselves: Spark spells a local file `file:///p` in
    // inputFiles and `file:/p` in `_metadata.file_path`, and so must the
    // helper
    def mtimes(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("id"), col("_metadata.file_path"),
          col("_metadata.file_modification_time").cast("string"))
        .collect().map(_.mkString("|")).sorted.toSeq
    Seq(file.toString, dir.toString).foreach { path =>
      val want = spark.read.parquet(path)
      val got = ManifestRelation.readParquet(spark, path)
      assert(got.inputFiles.sorted.toSeq == want.inputFiles.sorted.toSeq,
        s"$path: ${got.inputFiles.toSeq} vs ${want.inputFiles.toSeq}")
      assert(rootsOf(got) == rootsOf(want), path)
      assert(mtimes(got) == mtimes(want), path)
    }
    assert(mtimes(ManifestRelation.readParquet(spark, file.toString))
      .forall(_.endsWith("|2023-11-14 22:13:20")))
  }

  test("main reads parquet only through ManifestRelation") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val banned = Seq(
      """\.read\s*\.parquet\(""",
      """\.read\s*\.schema\((?:[^()]|\([^()]*\))*\)\s*\.parquet\(""",
      """\.read\s*\.format\(\s*"parquet"\s*\)""").map(_.r)
    val hits = java.nio.file.Files.walk(root.toPath).iterator()
      .asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".scala") &&
        f.getName != "ManifestRelation.scala")
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        banned.flatMap(_.findAllMatchIn(src)).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getPath}:$line: ${m.matched}"
        }
      }.toList
    assert(hits.isEmpty, "parquet reads outside ManifestRelation:\n" +
      hits.mkString("\n"))
  }
}
