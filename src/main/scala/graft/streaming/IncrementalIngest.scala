package graft.streaming

import graft.etl.OrderEtl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The SURVEY §2.9 stretch goal made real: a file-source Structured
  * Streaming ingest of new order-export CSV drops feeding the SAME upsert
  * logic as the batch ETL via foreachBatch — continuous incremental loads
  * replace the reference's manual re-runs, and the anti-join upserts make
  * each micro-batch idempotent.
  *
  * State lives in the warehouse store (read-modify-write per batch via
  * the caller's `load`/`save` callbacks); the stream itself is stateless,
  * so a restart resumes from the checkpoint with no reprocessing beyond
  * the unfinished batch.
  */
object IncrementalIngest {

  /** `fileColumns` is the drop format's header, in file order — a
    * streaming file source binds an explicit schema POSITIONALLY (the
    * header row is only skipped, never matched), so the contract of the
    * drop directory is part of the ingest config. All columns read as
    * string (the batch edge's dtype=str contract); missing staging
    * columns are injected downstream by cleanOrders. */
  def start(spark: SparkSession, csvDir: String, checkpointLocation: String,
            fileColumns: Seq[String],
            load: () => OrderEtl.Warehouse,
            save: OrderEtl.Warehouse => Unit,
            availableNow: Boolean = true,
            maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(
      fileColumns.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val reader = spark.readStream
      .option("header", "true")
      .schema(schema)
    // bounded files per micro-batch: each drop becomes its own
    // foreachBatch upsert (AvailableNow still drains everything)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader.csv(csvDir)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val staged = OrderEtl.toStaging(OrderEtl.cleanOrders(batch))
        save(OrderEtl.loadWarehouse(load(), staged))
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
