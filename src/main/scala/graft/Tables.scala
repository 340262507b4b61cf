package graft

import org.apache.spark.sql.graftshim.ManifestRelation
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish star schema
  * (see TESTDATA.md). One parquet file per table.
  *
  * Every table read goes through [[ManifestRelation.readParquet]], the
  * single seam for parquet reads in main: the schema comes from one
  * driver-side footer read, so a load runs no Spark job. A table file
  * Spark scans as one split (every fixture table up to a few MB) plans
  * as one partition that says so (`SinglePartition`) under an aggregate,
  * a global sort or a top-k that no join or union sits above
  * ([[graft.plans.SinglePartitionReads]]), so that consumer plans no
  * exchange. At cluster
  * scale these would be partitioned/bucketed warehouse tables, and that
  * seam is where the change lands (a `spark.table(name)` over a
  * bucketed catalog table) — query code never hardcodes paths.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose scans feed heavy per-row compute (tokenization, hashes,
    * signatures, vector math). The driver-generated fixtures hold ONE
    * parquet row group per file, and a row group is the unit of scan
    * splitting — so without intervention Spark reads each table in a
    * single task and the whole narrow pipeline above it runs SERIALLY no
    * matter how many cores exist. Production warehouse files carry many
    * row groups/files and split naturally (what WarehouseStore writes);
    * for these degenerate inputs an explicit round-robin split buys full
    * scan-side parallelism for one ~MB-scale exchange. A `repartition`
    * is not a step [[graft.plans.SinglePartitionReads]] looks through,
    * so these reads keep their parallel split.
    *
    * Deliberately NOT applied to the relational tables: their queries are
    * scan→aggregate with light per-row work, where the extra exchange
    * costs more than the parallelism returns (measured +0.4-0.6s per
    * query at sf0.1). Compute-heavy consumers of those tables opt in at
    * the call site (e.g. the ETL fixture splits lineitem itself). */
  private val splitOnRead: Set[String] = Set("documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df =
      if (name == "events") eventsRaw(spark, sfDir)
      else ManifestRelation.readParquet(spark, s"$sfDir/$name.parquet")
    if (splitOnRead(name)) df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table carries TIMESTAMP(NANOS) parquet, which Spark 4 only
    * reads as long (legacy flag). Truncate to microseconds — the same thing
    * DuckDB/engine peers do — so `ts` is a first-class TimestampType. */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")

  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    readNanosAsLong(s)
    normalizeEventTs(ManifestRelation.readParquet(s, s"$d/events.parquet"))
  }

  /** A directory of staged events-parquet copies as a file stream, with
    * the batch schema and `ts` normalized like [[events]]. */
  def readEventsStream(s: SparkSession, dir: String): DataFrame = {
    readNanosAsLong(s)
    normalizeEventTs(s.readStream
      .schema(ManifestRelation.readParquet(s, dir).schema).parquet(dir))
  }

  private def readNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize a raw events frame's `ts` to first-class TIMESTAMP across
    * the parquet physical types the fixture has shipped with: nanos read
    * as long (legacy flag), or TIMESTAMP(MICROS) without isAdjustedToUTC,
    * which Spark 4 reads as NTZ — watermarks and unix_micros require
    * TIMESTAMP. The session zone is pinned UTC, so the NTZ cast keeps the
    * same instant DuckDB sees. Shared by the batch and stream readers. */
  private def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
