package graft.streaming

import graft.operators.{IvfIndex, SemanticStore, TextSearch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous ingest for the OTHER two persisted artifact families —
  * BM25 corpus stats and the IVF ANN index — completing the
  * streaming × persisted-store matrix [[DocStreams.nearDupIngest]]
  * started for MinHash signatures: a stateless stream drained
  * micro-batch by micro-batch through a store the batch operators own
  * (the [[IncrementalIngest]] shape).
  *
  * Exactly-once, per family's append contract: both append verbs
  * double-count on a blind re-run (additive df/N partials; bag-append
  * postings), so each batch's partials are TAGGED by (checkpoint
  * lineage, batch id) — [[batchPrefix]] — and a replayed batch first
  * drops its own
  * prefixed partials, then re-appends — the drop + re-apply pair
  * converges to the same state from any crash point inside it. The
  * FIRST batch bootstraps the store (save-from-scratch, overwrite
  * mode) — BATCH-TAGGED like the appends, because a replay landing
  * after the save's manifest commit but before the checkpoint commit
  * re-enters via the append path, whose drop must find the
  * bootstrap's own files (a crash before the manifest commit simply
  * re-saves). Corollary: do NOT run the family's
  * compaction verb while an ingest stream has an uncommitted batch —
  * folding a batch's tagged partials erases the replay cleanup's
  * target (the same "no append in flight" rule the batch compactors
  * already state).
  *
  * New documents/vectors only — the append contracts' must-be-NEW rule
  * is the caller's id-dedup duty, exactly as in the batch path
  * (upstream [[DocStreams.nearDupIngest]] or an exact-dedup stage is
  * the usual supplier).
  */
object ArtifactStreams {

  /** The batch file prefix for one (checkpoint lineage, batch id):
    * `b<id>x<lineage>_`. The lineage is an INSTANCE id — a random tag
    * persisted as `.graft_lineage` inside the checkpoint directory on
    * first use — not a path hash: it scopes replay cleanup to THIS
    * checkpoint instance's own batches, so a stream restarted on a
    * fresh checkpoint (new dir, OR the same path wiped and recreated —
    * the standard "reset the stream" op) can never match another
    * run's files and silently delete or overwrite them; and because it
    * travels WITH the checkpoint, a driver restart or a different cwd
    * resolves the same lineage and a replayed batch still finds its
    * own partials (a cwd-dependent path hash would miss them and
    * double-count). The `x` delimiter keeps `b1x…` from
    * prefix-matching `b10x…`. */
  private[graft] def batchPrefix(spark: org.apache.spark.sql.SparkSession,
                                 batchId: Long,
                                 checkpointLocation: String): String =
    s"b${batchId}x${lineageId(spark, checkpointLocation)}_"

  /** Per-JVM cache of resolved lineage ids: the marker is immutable
    * once created (create-if-absent converges racing creators on the
    * winner), and each micro-batch would otherwise pay an
    * exists+open+read round-trip on it. A cache hit still costs ONE
    * existence probe: a wiped-and-recreated checkpoint in the same
    * driver must resolve a FRESH lineage (the hazard the instance id
    * exists to prevent), so a vanished marker invalidates the entry. */
  private val lineageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def lineageId(spark: org.apache.spark.sql.SparkSession,
                        checkpointLocation: String): String = {
    val fs = graft.operators.StoreSwap.fsOf(spark, checkpointLocation)
    val marker = new org.apache.hadoop.fs.Path(checkpointLocation,
      ".graft_lineage")
    val cached = lineageCache.get(checkpointLocation)
    if (cached != null) {
      if (fs.exists(marker)) return cached
      lineageCache.remove(checkpointLocation)
    }
    def read(): Option[String] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val t = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        t.linesIterator.map(_.trim).find(_.nonEmpty)
      }
    val resolved = read().getOrElse {
      val fresh = java.util.UUID.randomUUID().toString
        .replace("-", "").take(6)
      fs.mkdirs(new org.apache.hadoop.fs.Path(checkpointLocation))
      // create-if-absent: one stream per checkpoint by contract, but a
      // lost race must still converge on the winner's id
      try {
        val out = fs.create(marker, false)
        try out.write(s"$fresh\n".getBytes("UTF-8"))
        finally out.close()
        fresh
      } catch {
        case _: java.io.IOException => read().getOrElse(throw
          new java.io.IOException(
            s"lineageId: could not create or read $marker"))
      }
    }
    lineageCache.put(checkpointLocation, resolved)
    resolved
  }

  /** True iff every listed file under `dirs` (all dirs when empty)
    * carries this batch's prefix — including the vacuous empty case:
    * the store IS this batch (a bootstrap whose checkpoint commit was
    * lost, or a crash mid-replay that left the drop's empty manifest).
    * The replay must then RE-BOOTSTRAP, not drop + append: the drop
    * would unlist and delete the store's only data, and the family's
    * append verb reads the store and fails loudly on the empty
    * manifest — a permanent wedge (ready() stays true) with the
    * bootstrap's data gone. */
  private def onlyThisBatch(spark: org.apache.spark.sql.SparkSession,
                            path: String, prefix: String,
                            dirs: Seq[String]): Boolean = {
    val fs = graft.operators.StoreSwap.fsOf(spark, path)
    val files = graft.operators.StoreSwap.latestManifest(fs, path)
      .map(_._2).getOrElse(Seq.empty)
      .filter(f => dirs.isEmpty || dirs.exists(d => f.startsWith(d + "/")))
    files.forall(f => f.substring(f.lastIndexOf('/') + 1).startsWith(prefix))
  }

  /** Post-batch manifest link retention ([[StoreSwap.pruneManifestLinks]]):
    * one link file lands per micro-batch, so an unbounded long-running
    * ingest turns the store root's version listing into a linear-growth
    * cost. `retainVersions` > 0 opts in to pruning links beyond the
    * newest N after each commit — data files stay for the store's
    * vacuum verb; time travel narrows to the retained window. 0 (the
    * default) keeps every link, the pre-r18 behavior. */
  private[streaming] def retainLinks(spark: org.apache.spark.sql.SparkSession,
                                     path: String, retainVersions: Int): Unit =
    if (retainVersions > 0)
      graft.operators.StoreSwap.pruneManifestLinks(
        graft.operators.StoreSwap.fsOf(spark, path), path, retainVersions)

  /** One micro-batch of [[bm25StatsIngest]] — factored so specs can
    * drive a REPLAY through the production path. */
  private[graft] def bm25Batch(batch: DataFrame, batchId: Long,
                               idCol: String, textCol: String,
                               statsPath: String,
                               checkpointLocation: String,
                               retainVersions: Int = 0): Unit = {
    val spark = batch.sparkSession
    val prefix = batchPrefix(spark, batchId, checkpointLocation)
    def bootstrap(): Unit =
      // an empty first batch must not bootstrap empty stats (see
      // semanticBatch) — wait for the first batch with documents
      if (!batch.isEmpty)
        TextSearch.saveCorpusStats(batch, idCol, textCol, statsPath,
          Some(prefix))
    // bootstrapped iff the stats MANIFEST exists — the save's single
    // commit point, so a torn bootstrap re-runs cleanly
    if (TextSearch.statsReady(spark, statsPath)) {
      if (onlyThisBatch(spark, statsPath, prefix, Seq.empty))
        // re-bootstrap (see onlyThisBatch): the save continues the
        // version chain with identical content
        bootstrap()
      else {
        TextSearch.dropAppendPartials(spark, statsPath, prefix)
        TextSearch.appendCorpusStats(batch, idCol, textCol, statsPath,
          prefix)
      }
    } else bootstrap()
    retainLinks(spark, statsPath, retainVersions)
  }

  /** Grow persisted BM25 corpus stats ([[TextSearch.saveCorpusStats]]'
    * layout) from a document stream. Searches read the stats as usual
    * ([[TextSearch.bm25TopKIndexed]]); scores reflect every committed
    * batch. Gated at q240 (q153's save → append → search protocol
    * replayed through pinned micro-batches). */
  def bm25StatsIngest(docs: DataFrame, idCol: String, textCol: String,
                      statsPath: String, checkpointLocation: String,
                      availableNow: Boolean = true,
                      retainVersions: Int = 0): StreamingQuery = {
    require(docs.isStreaming, "bm25StatsIngest: docs must be a streaming frame")
    val writer = docs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        bm25Batch(batch, batchId, idCol, textCol, statsPath, checkpointLocation,
          retainVersions)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Grow a persisted IVF index ([[IvfIndex.saveIndex]]'s layout) from
    * an embedding stream: the first batch trains the centroids and
    * saves the index, every later batch assigns against the FROZEN
    * centroids and appends its postings ([[IvfIndex.appendToIndex]]'s
    * no-retrain contract — rebalance is [[IvfIndex.rebuildIndex]], an
    * offline verb). Gated at q241 (q146's save → append → search
    * protocol replayed through pinned micro-batches). */
  /** One micro-batch of [[ivfIngest]] — factored so specs can drive a
    * REPLAY through the production path. */
  private[graft] def ivfBatch(batch: DataFrame, batchId: Long,
                              idCol: String, vecCol: String,
                              indexPath: String, checkpointLocation: String,
                              k: Int, sampleSize: Int, iters: Int,
                              retainVersions: Int = 0): Unit = {
    val spark = batch.sparkSession
    val prefix = batchPrefix(spark, batchId, checkpointLocation)
    def bootstrap(): Unit = if (!batch.isEmpty) {
      // an empty first batch must not bootstrap (train(empty) has no
      // sample; an empty index manifest would brick later reads while
      // indexReady() stays true — see semanticBatch)
      val model = IvfIndex.train(batch, idCol, vecCol, k, sampleSize,
        iters)
      IvfIndex.saveIndex(model,
        IvfIndex.assign(batch, idCol, vecCol, model), indexPath,
        Some(prefix))
    }
    // bootstrapped iff the index MANIFEST exists — the save's single
    // commit point, so a torn bootstrap re-runs cleanly
    if (IvfIndex.indexReady(spark, indexPath)) {
      if (onlyThisBatch(spark, indexPath, prefix, Seq("postings")))
        // re-bootstrap (see onlyThisBatch): saveIndex's fresh manifest
        // also unlists the stale centroids; deterministic training on
        // the same batch reproduces them
        bootstrap()
      else {
        IvfIndex.dropAppendPartials(spark, indexPath, prefix)
        IvfIndex.appendToIndex(spark, indexPath, batch, idCol, vecCol,
          prefix)
      }
    } else bootstrap()
    retainLinks(spark, indexPath, retainVersions)
  }

  def ivfIngest(vecs: DataFrame, idCol: String, vecCol: String,
                indexPath: String, checkpointLocation: String, k: Int,
                sampleSize: Int = 2000, iters: Int = 8,
                availableNow: Boolean = true,
                retainVersions: Int = 0): StreamingQuery = {
    require(vecs.isStreaming, "ivfIngest: vecs must be a streaming frame")
    val writer = vecs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfBatch(batch, batchId, idCol, vecCol, indexPath, checkpointLocation,
          k, sampleSize, iters, retainVersions)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One micro-batch of [[factIngest]] — factored so specs can drive a
    * REPLAY through the production path. */
  private[graft] def factBatch(batch: DataFrame, batchId: Long,
                               whPath: String,
                               checkpointLocation: String,
                               retainVersions: Int = 0): Unit = {
    val spark = batch.sparkSession
    val prefix = batchPrefix(spark, batchId, checkpointLocation)
    def bootstrap(): Unit =
      // an empty first batch must not bootstrap an empty fact table
      // (see semanticBatch) — wait for the first batch with rows
      if (!batch.isEmpty)
        graft.sources.WarehouseStore.saveFact(batch, whPath,
          org.apache.spark.sql.SaveMode.Overwrite, Some(prefix))
    if (graft.sources.WarehouseStore.ready(spark, whPath)) {
      if (onlyThisBatch(spark, whPath, prefix, Seq("fact_sales")))
        // re-bootstrap (see onlyThisBatch) — though this family's
        // append would converge anyway (saveFact reads nothing), the
        // re-save avoids the transient empty-fact manifest a reader
        // could observe between the drop and the re-append
        bootstrap()
      else {
        graft.sources.WarehouseStore.dropAppendPartials(spark, whPath,
          prefix)
        graft.sources.WarehouseStore.saveFact(batch, whPath,
          org.apache.spark.sql.SaveMode.Append, Some(prefix))
      }
    } else bootstrap()
    retainLinks(spark, whPath, retainVersions)
  }

  /** Grow the WAREHOUSE fact table ([[graft.sources.WarehouseStore]]'s
    * manifest layout — the fifth persisted family) from a streaming
    * fact feed: the first non-empty batch bootstraps `fact_sales`
    * (truncate-reload save, v1 — its replay re-saves), every later
    * batch appends behind one manifest flip with batch-tagged files,
    * replay-recovered exactly once like the other four families
    * ([[graft.sources.WarehouseStore.dropAppendPartials]]). Dims carry
    * over untouched when the warehouse already exists (the batch ETL
    * owns them); readers time-travel across committed batches via
    * `loadFact(asOfVersion)`. Gated at q256 (the q254 fact protocol
    * replayed through pinned micro-batches against the batch oracle). */
  def factIngest(facts: DataFrame, whPath: String, checkpointLocation: String,
                 availableNow: Boolean = true,
                 retainVersions: Int = 0): StreamingQuery = {
    require(facts.isStreaming, "factIngest: facts must be a streaming frame")
    val writer = facts.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        factBatch(batch, batchId, whPath, checkpointLocation, retainVersions)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One micro-batch of [[semanticIngest]] — factored so specs can
    * drive a REPLAY through the production path. */
  private[graft] def semanticBatch(batch: DataFrame, batchId: Long,
                                   idCol: String, vecCol: String,
                                   storePath: String, verdictsPath: String,
                                   tau: Double,
                                   model: Option[IvfIndex.Model],
                                   k: Int, sampleSize: Int,
                                   iters: Int): Unit = {
    val spark = batch.sparkSession
    val verdicts =
      if (SemanticStore.ready(spark, storePath))
        SemanticStore.ingest(batch, idCol, vecCol, storePath, tau)
      else if (batch.isEmpty)
        // an EMPTY first batch must not bootstrap: save(empty) would
        // commit a manifest listing no vectors/idmap files, bricking
        // every later read while ready() stays true. Skip — no store,
        // no verdict partition (an empty replay skips identically).
        return
      else {
        val m = model.getOrElse(
          IvfIndex.train(batch, idCol, vecCol, k, sampleSize, iters))
        SemanticStore.save(batch, idCol, vecCol, storePath, m)
        SemanticStore.verdictsForIds(spark, storePath,
          batch.select(col(idCol)), idCol, tau)
      }
    verdicts.write.mode("overwrite").parquet(s"$verdictsPath/batch=$batchId")
  }

  /** Grow a persisted SEMANTIC dedup store ([[SemanticStore]]'s
    * layout) from an embedding stream — the fourth family completing
    * the streaming × persisted-artifact matrix. The first batch
    * creates the store (centroids from `model` when given, else
    * trained on the batch with [[IvfIndex.train]]'s deterministic
    * protocol and FROZEN thereafter — the IVF contract); every later
    * batch rides [[SemanticStore.ingest]].
    *
    * Exactly-once, BOTH sides, with no batch tagging needed: the
    * store side skips seen ids (a replayed batch appends nothing and
    * commits no version), and the verdict log partition
    * `verdictsPath/batch=<id>/` is [[SemanticStore.verdictsForIds]]
    * over the batch's ids — a pure function of (store state, id set),
    * so a replay rewrites identical content (the exactly-once pair-log
    * design, inherited wholesale). */
  def semanticIngest(vecs: DataFrame, idCol: String, vecCol: String,
                     storePath: String, verdictsPath: String,
                     checkpointLocation: String, tau: Double,
                     model: Option[IvfIndex.Model] = None,
                     k: Int = 16, sampleSize: Int = 2000, iters: Int = 8,
                     availableNow: Boolean = true,
                     retainVersions: Int = 0): StreamingQuery = {
    require(vecs.isStreaming, "semanticIngest: vecs must be a streaming frame")
    val writer = vecs.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticBatch(batch, batchId, idCol, vecCol, storePath,
          verdictsPath, tau, model, k, sampleSize, iters)
        retainLinks(batch.sparkSession, storePath, retainVersions)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
