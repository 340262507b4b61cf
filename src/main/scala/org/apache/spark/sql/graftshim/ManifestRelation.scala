package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-backed parquet relations: build a scan over an explicit
  * `(relative path, byte length)` file-set with ZERO filesystem
  * listing — the whole scan file-index comes from the store manifest's
  * recorded metadata, exactly the way a table format turns its
  * manifest into a plan.
  *
  * Why this exists: Spark's explicit-multi-path read
  * (`spark.read.parquet(files: _*)`) pays a measured ~2.5 ms of
  * sequential driver time PER PATH (glob + stat while resolving the
  * DataSource), which turns writer file counts into a read cost — a
  * 100 TB store at 128 MiB files is ~800k paths, tens of driver
  * MINUTES per cold read, pruned or not. Here the driver does O(files)
  * in-memory string work instead, and partition pruning happens where
  * it should: [[ManifestFileIndex.listFiles]] receives Catalyst's
  * partition filters (static AND dynamic — DPP evaluates against the
  * returned partition rows), so a pruned read never materializes
  * non-matching files into the scan at all.
  *
  * Lives under `org.apache.spark.sql` because [[HadoopFsRelation]] /
  * [[LogicalRelation]] construction is `private[sql]` — the standard
  * seam every file-index-providing Spark extension uses. Only public
  * execution machinery is reused (ParquetFileFormat does the actual
  * reading, so vectorization, predicate pushdown, and column pruning
  * are unchanged).
  *
  * It is also the one parquet reader of `src/main/scala`:
  * [[readParquet]] resolves a plain file or directory the same way,
  * on the driver, so no read pays a Spark job to learn its schema.
  */
object ManifestRelation {

  /** Data-schema cache keyed by the footer file actually read, its
    * length and mtime, and the session confs the footer conversion
    * reads ([[dataSchemaOf]]): repeat reads of an unchanged file
    * resolve the schema with zero I/O, while a file rewritten in place,
    * or read under a different `nanosAsLong`, misses. Compaction and
    * appends change the largest file, so the key churns: the cache is
    * a bounded LRU (a long-lived driver touching many stores/versions
    * must not accrete stranded entries without bound) and
    * [[evictSchemas]] drops a store's entries when a path is re-created
    * (a v1 manifest commit on a previously-seen path). */
  private val SchemaCacheMax = 256
  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size() > SchemaCacheMax
    })

  /** Cached-schema count (spec gate for the LRU bound). */
  def schemaCacheSize: Int = schemaCache.size()

  /** Drop every cached schema under `basePath` — called when a store
    * path is observed being RE-CREATED (v1 manifest commit), so a
    * deleted-and-rebuilt store at the same path with colliding file
    * names (streaming batch tags are deterministic) can never
    * serve a stale footer schema. */
  def evictSchemas(basePath: String): Unit = schemaCache.synchronized {
    val it = schemaCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(basePath + "/")) it.remove()
  }

  /** DataFrame over one parquet file or directory — what
    * `spark.read.parquet(path)` returns, the schema included, but
    * resolved on the driver with no Spark job: one stat (a file) or one
    * recursive listing (a directory; `_`- and `.`-prefixed names are
    * skipped as Spark skips them, `k=v` directories become partition
    * columns), one footer read, and the scan built over the listed
    * statuses. As with Spark's own file index, the root path is the
    * path read (the file itself for a single file) and every file
    * carries its listed length and mtime, so `inputFiles` and
    * `_metadata.file_modification_time` match `spark.read.parquet`.
    * A missing path or a directory with no data files refuses. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(
      spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
    val p = fs.makeQualified(new Path(path))
    val root = fs.getFileStatus(p)
    if (!root.isDirectory)
      return relation(spark, p.getParent,
        Seq(ListedFile(p.getName, root.getLen, root.getModificationTime)), p)
    val files = scala.collection.mutable.ArrayBuffer.empty[ListedFile]
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).sortBy(_.getPath.getName).foreach { st =>
        val name = st.getPath.getName
        if (!hiddenName(name)) {
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (st.isDirectory) walk(st.getPath, r)
          else files += ListedFile(r, st.getLen, st.getModificationTime)
        }
      }
    walk(p, "")
    require(files.nonEmpty, s"ManifestRelation: unable to infer a parquet " +
      s"schema — no data files under $path")
    relation(spark, p, files.toSeq, p)
  }

  /** Spark's listing filter (`shouldFilterOutPathName`), minus the
    * parquet summary files this project never writes: `_` (unless a
    * `k=v` name), `.` and in-flight `._COPYING_` names are not data. */
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** DataFrame over `files` (paths relative to `basePath`, with byte
    * lengths) — partition columns recovered from `k=v` path components
    * exactly like Spark's directory inference (int/long/string). A store
    * manifest records no mtimes, so these files' statuses carry mtime 0
    * and `_metadata.file_modification_time` reads the epoch. */
  def parquet(spark: SparkSession, basePath: String,
              files: Seq[(String, Long)]): DataFrame = {
    val base = new Path(basePath)
    relation(spark, base,
      files.map { case (rel, len) => ListedFile(rel, len, 0L) }, base)
  }

  /** One file of a scan: path relative to the base, length, mtime. */
  private[graftshim] case class ListedFile(rel: String, len: Long,
                                           mtime: Long)

  private def relation(spark: SparkSession, base: Path,
                       files: Seq[ListedFile], root: Path): DataFrame = {
    val basePath = base.toString
    require(files.nonEmpty, s"ManifestRelation: empty file-set under $basePath")
    val partitionSchema = inferPartitionSchema(basePath, files.map(_.rel))
    // schema from the LARGEST listed file: deterministic, and by far
    // the most likely to be a fully-written data file
    val dataSchema = dataSchemaOf(spark, basePath, files.maxBy(_.len).rel)
    val index = new ManifestFileIndex(base, files, partitionSchema, root)
    val cs = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation))
  }

  /** The `k=v` directory components of one relative path (everything
    * but the file name), unescaped exactly like Spark's own directory
    * inference (string partition values are %-escaped at write). */
  private[graftshim] def partPairs(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.map { comp =>
      val i = comp.indexOf('=')
      require(i > 0,
        s"ManifestRelation: non-partition directory component '$comp' " +
          s"in '$rel' — manifest entries must be " +
          "(k=v)*/<file>.parquet relative to the store directory")
      (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
         .unescapePathName(comp.substring(0, i)),
       org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
         .unescapePathName(comp.substring(i + 1)))
    }

  /** Same inference ladder as Spark's directory discovery, covering
    * the value shapes an adopted external layout can carry: int, then
    * long, then double, then date, then string — so a partition value
    * like `0.5` or `2024-01-01` types the way the old explicit-path
    * read (Spark's own inference) typed it instead of silently
    * becoming a string. Timestamp-valued partitions are REFUSED loudly
    * ([[inferPartitionSchema]]): Spark would type them TimestampType
    * via session-zone-dependent parsing this index does not reproduce,
    * and a silent string would change the column type under an adopted
    * layout. */
  private def inferPartitionSchema(basePath: String,
                                   rels: Seq[String]): StructType = {
    val first = partPairs(rels.head).map(_._1)
    val values = Array.fill(first.length)(
      scala.collection.mutable.ArrayBuffer.empty[String])
    rels.foreach { rel =>
      val pairs = partPairs(rel)
      require(pairs.map(_._1) == first,
        s"ManifestRelation: inconsistent partition layout under " +
          s"$basePath — '$rel' vs columns $first")
      pairs.zipWithIndex.foreach { case ((_, v), i) => values(i) += v }
    }
    StructType(first.zipWithIndex.map { case (name, i) =>
      // the Hive null marker is a NULL literal, not a value — Spark's
      // own inference excludes it before typing the column
      val vs = values(i).filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
      def all(p: String => Boolean) =
        vs.forall(v => scala.util.Try(p(v)).getOrElse(false))
      // values Spark's ladder would type EXACTLY but this index cannot
      // represent losslessly are REFUSED, never silently retyped:
      // integral-beyond-long → DecimalType(p,0) in Spark (a double here
      // would corrupt the value and equality predicates would miss
      // rows); timestamps → session-zone parsing not reproduced here
      def refuse(kind: String, sparkType: String): Nothing =
        throw new IllegalArgumentException(
          s"ManifestRelation: partition column '$name' under $basePath " +
            s"carries $kind values (e.g. '${vs.head}') — Spark's " +
            s"directory inference would type it $sparkType, which this " +
            "manifest index does not reproduce; rewrite the layout or " +
            "read it with spark.read.parquet")
      val dt =
        if (vs.isEmpty) StringType
        else if (all(v => { v.toInt; true })) IntegerType
        else if (all(v => { v.toLong; true })) LongType
        else if (all(_.matches("-?\\d+")))
          refuse("integral-beyond-long", "DecimalType")
        else if (all(v => { v.toDouble; true })) DoubleType
        // same parser as Spark's DateType rung (stringToDate), used
        // identically in partRow — lenient forms like 2024-1-1
        // included. stringToDate also accepts date+time strings by
        // TRUNCATION ("2024-01-01 00:30:00" → the date), so values
        // with a time component are excluded here and fall through to
        // the timestamp refusal below
        else if (all(v => !v.contains(' ') && !v.contains('T') &&
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToDate(UTF8String.fromString(v)).isDefined)) DateType
        else {
          if (all(v =>
            { java.time.LocalDateTime.parse(v.replace(' ', 'T')); true }))
            refuse("timestamp", "TimestampType")
          StringType
        }
      StructField(name, dt, nullable = true)
    })
  }

  /** One partition row in Catalyst internal form. */
  private[graftshim] def partRow(schema: StructType,
                                 values: Seq[String]): InternalRow =
    InternalRow.fromSeq(schema.fields.zip(values).map {
      case (f, v) if v == "__HIVE_DEFAULT_PARTITION__" => null
      case (f, v) => f.dataType match {
        case IntegerType => v.toInt
        case LongType    => v.toLong
        case DoubleType  => v.toDouble
        // Catalyst dates are days since epoch, same parser as inference
        case DateType    => org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToDate(UTF8String.fromString(v)).getOrElse(
            throw new IllegalArgumentException(
              s"ManifestRelation: unparseable date partition value '$v'"))
        case _           => UTF8String.fromString(v)
      }
    }.toSeq)

  /** The parquet data schema of one store-relative file (cached — one
    * footer read per (file, length, mtime, converter confs)). Public so
    * writers can validate an incoming frame against the store's
    * committed schema BEFORE staging an append (the warehouse
    * schema-drift guard). */
  def dataSchemaOf(spark: SparkSession, basePath: String,
                   firstRel: String): StructType = {
    val key = s"$basePath/$firstRel"
    val cs = spark.asInstanceOf[classic.SparkSession]
    val p = new Path(key)
    val hadoopConf = cs.sessionState.newHadoopConf()
    val st = p.getFileSystem(hadoopConf).getFileStatus(p)
    val conf = cs.sessionState.conf
    // the confs Spark's own schema inference converts footers with
    // (ParquetFileFormat.mergeSchemasInParallel); the rest stay default
    val binaryAsString = conf.isParquetBinaryAsString
    val int96AsTimestamp = conf.isParquetINT96AsTimestamp
    val inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled
    val nanosAsLong = conf.legacyParquetNanosAsLong
    val unknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation
    val cacheKey = Seq(key, st.getLen, st.getModificationTime, binaryAsString,
      int96AsTimestamp, inferTimestampNTZ, nanosAsLong, unknownTypeAnnotation)
      .mkString("\u0000")
    val cached = schemaCache.get(cacheKey)
    if (cached != null) return cached
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = binaryAsString,
      assumeInt96IsTimestamp = int96AsTimestamp,
      inferTimestampNTZ = inferTimestampNTZ,
      nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = unknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    // the footer's Spark row metadata (names, nullability, field
    // metadata) wins over the converted parquet schema, as in Spark;
    // every column is then nullable, as DataSource makes it — a
    // non-null column in one file says nothing of the store's others
    val schema = ParquetFileFormat
      .readSchemaFromFooter(new Footer(st.getPath, footer), converter)
      .asNullable
    schemaCache.put(cacheKey, schema)
    schema
  }
}

/** In-memory [[FileIndex]] materialized from manifest metadata: every
  * file's path, length and mtime is already known, so planning performs
  * no filesystem calls at all. `listFiles` evaluates the pushed partition
  * filters against one [[InternalRow]] per partition — at 100 TB a
  * year-pruned fact read touches 1/N of the index in driver memory and
  * the scan never sees the other files. `root` is the path the caller
  * read: the file itself for a single-file read, else `base`. */
class ManifestFileIndex(base: Path, files: Seq[ManifestRelation.ListedFile],
                        override val partitionSchema: StructType, root: Path)
  extends FileIndex {

  /** (partition row, statuses) — one entry per distinct partition. */
  private val partitions: Seq[(InternalRow, Array[FileStatus])] = {
    def status(f: ManifestRelation.ListedFile) =
      new FileStatus(f.len, false, 1, 128L * 1024 * 1024, f.mtime,
        new Path(base, f.rel))
    if (partitionSchema.isEmpty)
      Seq(InternalRow.empty -> files.map(status).toArray)
    else
      files.groupBy(f => ManifestRelation.partPairs(f.rel).map(_._2))
        .toSeq.sortBy(_._1.mkString("/"))
        .map { case (vals, fs) =>
          ManifestRelation.partRow(partitionSchema, vals) ->
            fs.map(status).toArray
        }
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
  : Seq[PartitionDirectory] = {
    val selected =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) partitions
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            BoundReference(partitionSchema.fieldIndex(a.name),
              a.dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        partitions.filter { case (row, _) => pred.eval(row) }
      }
    selected.map { case (row, sts) => PartitionDirectory(row, sts) }
  }

  override def inputFiles: Array[String] =
    files.map(f => new Path(base, f.rel).toString).toArray

  override def refresh(): Unit = ()

  override val sizeInBytes: Long = files.map(_.len).sum

  override def toString: String =
    s"ManifestFileIndex[$base, ${files.length} files]"
}
