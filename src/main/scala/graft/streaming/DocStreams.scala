package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous near-dup ingest: a document stream drained micro-batch by
  * micro-batch through the persisted MinHash signature store — the
  * [[IncrementalIngest]] shape (stateless stream, durable state in a
  * store the batch operators own) applied to [[graft.operators.Dedup
  * .minhashIncremental]]. Each batch is deduped against everything the
  * store has seen (all prior batches included), its signatures are
  * appended, and the duplicate pairs it surfaced land in a per-batch
  * output partition.
  *
  * Exactly-once, BOTH sides. The STORE side is safe under replay by
  * `minhashIncremental`'s own contracts — already-seen ids are
  * skipped, and the manifest flip makes a torn append invisible, so
  * re-running the batch is the recovery. The PAIRS side is defined as
  * a pure function of (store state, batch id set): after the
  * (idempotent) append, the batch's partition is [[Dedup.pairsForIds]]
  * over the batch's ids — every verified pair touching them, derived
  * from the store alone — written with overwrite to
  * `pairsPath/batch=<id>/`. A replayed batch therefore rewrites the
  * IDENTICAL partition content (foreachBatch replays the failed batch
  * before any later batch runs, so the store state it derives from is
  * the same), upgrading the log from the previous at-most-once
  * semantics, where a replay saw every id as seen and rewrote its
  * partition empty. For disjoint-id batches each pair lands in exactly
  * one partition (the later doc's batch); a SOURCE that re-sends an id
  * in several batches re-emits its pairs, so such logs are read
  * distinct. [[Dedup.derivePairsFromStore]] remains the from-nothing
  * recovery for a lost log.
  *
  * The ingest itself runs pair-free (`computePairs = false`): the
  * candidate scan and verify run ONCE, in the store-derived
  * `pairsForIds` (delta-pruned — bytes read scale with the batch, not
  * the store), not twice.
  *
  * Bootstrap: the first batch to arrive creates the store
  * ([[Dedup.saveMinhashStore]]); its pairs come from the same
  * store-derived path as every later batch. This is the production
  * cold-start — no separate seeding job.
  */
object DocStreams {

  /** One micro-batch of [[nearDupIngest]] — the exact body foreachBatch
    * runs, factored so specs can drive a REPLAY through the production
    * path (re-invoking with the same batch must rewrite the identical
    * pair partition). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  idCol: String, textCol: String,
                                  storePath: String, pairsPath: String,
                                  threshold: Double, bands: Int,
                                  ngram: Int): Unit = {
    val spark = batch.sparkSession
    // bootstrapped iff the store MANIFEST exists — the save's single
    // commit point, so a torn bootstrap re-runs cleanly
    if (Dedup.minhashStoreReady(spark, storePath))
      Dedup.minhashIncremental(batch, idCol, textCol, storePath,
        threshold, bands, ngram, computePairs = false)
    else if (batch.isEmpty)
      // an EMPTY first batch (no-data trigger, upstream filter) must
      // not bootstrap: save(empty) would commit a manifest listing no
      // postings/bands files, bricking every later read while the
      // store reads as ready. Skip — no store, no pair partition
      // (replay of the empty batch skips identically).
      return
    else
      Dedup.saveMinhashStore(batch, idCol, textCol, storePath,
        bands, ngram)
    Dedup.pairsForIds(spark, storePath, batch.select(col(idCol)),
      idCol, threshold)
      .write.mode("overwrite").parquet(s"$pairsPath/batch=$batchId")
  }

  def nearDupIngest(docs: DataFrame, idCol: String, textCol: String,
                    storePath: String, pairsPath: String,
                    checkpointLocation: String, threshold: Double,
                    bands: Int = 4, ngram: Int = 3,
                    availableNow: Boolean = true,
                    retainVersions: Int = 0): StreamingQuery = {
    require(docs.isStreaming, "nearDupIngest: docs must be a streaming frame")
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, storePath, pairsPath,
          threshold, bands, ngram)
        // bound manifest-link accretion (one link per batch): opt-in,
        // shared retention helper — data files stay for the store's
        // vacuum verb
        ArtifactStreams.retainLinks(batch.sparkSession, storePath,
          retainVersions)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
