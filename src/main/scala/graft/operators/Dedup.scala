package graft.operators

import graft.functions.TextExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, token-Jaccard,
  * and MinHash+LSH near-dup — all as declarative Spark plans.
  *
  * Scale design:
  *  - exact dedup is a hash groupBy (partial map-side agg; one shuffle on a
  *    16-byte digest, never on the document text itself);
  *  - pairwise Jaccard is quadratic and only used as the *verify* step on
  *    LSH candidates or small slices;
  *  - MinHash+LSH is the 100 TB path: per-doc signatures (narrow), then a
  *    shuffle on (band, bucket) whose fan-in AQE can skew-split.
  */
/** Thrown when an iterative components pass exhausts its round budget
  * without reaching a fixpoint — a TYPED signal (not a string to match)
  * so [[Dedup.componentsAuto]]'s routing cannot be broken by a reworded
  * message. Extends IllegalArgumentException to preserve the original
  * contract for callers that catch broadly. */
class ComponentsNoFixpointException(msg: String)
  extends IllegalArgumentException(msg)

object Dedup {

  /** Exact dedup on a normalization of the text: keeps min doc id per
    * fingerprint. Returns (id, fingerprint). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextExprs.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("fp"))

  /** Incremental exact dedup: dedupe a NEW batch against an existing
    * fingerprint store — the daily-crawl-append shape, where the corpus's
    * fingerprints already live in the warehouse and only the delta is
    * scanned. Intra-batch keep-min-id first ([[exact]]), then a LEFT ANTI
    * join against the seen fingerprints; both sides shuffle 16-byte
    * digests, never text. `seen` needs only a `fp` column (extra columns
    * are ignored) and is typically a bucketed fingerprint table so the
    * anti join co-locates ([[graft.sources.WarehouseStore.saveBucketed]]).
    *
    * Returns (idCol, fp): the rows to append to both the corpus and the
    * fingerprint store. Re-running the same batch against the appended
    * store yields zero rows — idempotent ingestion. */
  def exactIncremental(batch: DataFrame, idCol: String, textCol: String,
                       seen: DataFrame): DataFrame = {
    require(seen.columns.contains("fp"),
      s"seen fingerprints need a 'fp' column; got [${seen.columns.mkString(", ")}]")
    exact(batch, idCol, textCol)
      .join(seen.select(col("fp")), Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  /** Quality-aware exact dedup: per fingerprint keep the best row by
    * `qualityCol` (desc), id as deterministic tiebreak — the "keep the
    * longest/cleanest copy" policy real pipelines use instead of min-id. */
  def exactKeepBest(docs: DataFrame, idCol: String, textCol: String,
                    qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
      .orderBy(col(qualityCol).desc, col(idCol))
    docs.withColumn("fp", TextExprs.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("fp"), col(qualityCol))
  }

  /** Distinct (doc, shingle-hash) pairs — the exploded posting list.
    * ngram=1 is plain tokens; ngram>=2 word shingles (docs shorter than n
    * drop out). Shingling is what keeps similarity joins non-degenerate at
    * scale: the shingle space is |vocab|^n, so sharing a posting is rare
    * and the candidate pair set stays near-linear instead of quadratic.
    *
    * Shingles are hashed to 32-bit ints BEFORE the distinct, so every
    * downstream shuffle moves 8-byte keys instead of ~20-byte strings. The
    * hash is md5-derived (engine-portable: the DuckDB oracle reproduces
    * it); the few cross-engine-identical collisions this admits trade
    * exactness of Jaccard in the 4th decimal for ~2× shuffle reduction. */
  private def postings(docs: DataFrame, idCol: String, textCol: String,
                       ngram: Int, hashBytes: Int = 4): DataFrame =
    docs.select(col(idCol).as("doc"),
        explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram, hashBytes)).as("hv"))
      .distinct()

  /** Pairwise shingle-set Jaccard >= threshold (d1 < d2). Quadratic in docs
    * sharing a shingle — use on LSH candidates or with ngram>=3 so sharing
    * is rare. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, ngram: Int = 3): DataFrame = {
    // localCheckpoint: three consumers (sizes + both self-join sides) —
    // without materialization the scan→shingle→distinct pipeline runs
    // once per consumer that the exchange-reuse pass can't unify (the
    // per-side projections differ, the round-1 lesson)
    val tok = postings(docs, idCol, textCol, ngram).localCheckpoint()
    val sz = tok.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val a = tok.select(col("doc").as("d1"), col("hv"))
    val b = tok.select(col("doc").as("d2"), col("hv"))
    val inter = a.join(b, Seq("hv")).where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    joinSizes(inter, sz, threshold)
  }

  /** Attach per-doc posting sizes to a (d1, d2, inter) frame and emit the
    * pairs at/above `threshold` — shared tail of [[jaccardPairs]],
    * [[verifyJaccard]] and [[sortedNeighborhoodPairs]] (r18 dedup of three
    * copies). The size aggregate is NOT materialized and MAY evaluate once
    * per side: measured at 10M postings / 5M pairs (SCALE.md round 18,
    * interleaved medians over 5 rounds) the double aggregate over the
    * checkpointed posting RDD is free (renames-inside 0.558 s vs
    * alias-outside 0.554 s) while localCheckpointing sz LOSES (0.625 s —
    * the eager barrier costs more than the in-memory re-aggregation ever
    * saves, at any measured scale). */
  private def joinSizes(inter: DataFrame, sz: DataFrame,
                        threshold: Double): DataFrame = {
    val s1 = sz.alias("s1")
    val s2 = sz.alias("s2")
    inter
      .join(s1, col("d1") === col("s1.doc"))
      .join(s2, col("d2") === col("s2.doc"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("s1.n") + col("s2.n") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash parameters: k universal hashes h_i(x) = (a_i·x + b_i) mod p
    * over the 32-bit md5 token hash. Constants are fixed so signatures are
    * reproducible across engines and runs. */
  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (1299721L, 7919L), (1299817L, 104729L), (1300021L, 15485863L), (1300123L, 32452843L),
    (1300189L, 49979687L), (1300201L, 67867967L), (1300247L, 86028121L), (1300267L, 999331L),
    (1300271L, 2750159L), (1300313L, 198491317L), (1300327L, 217645177L), (1300369L, 236887691L),
    (1300391L, 256203161L), (1300393L, 275604541L), (1300423L, 295075147L), (1300439L, 314606891L))

  /** Per-doc MinHash signature (one row per doc, columns m0..m{k-1}) from
    * an already-built (doc, hv) posting frame — shared so
    * [[minhashDuplicates]] can reuse ONE materialized posting scan for
    * banding and for the candidate-restricted verify. */
  private def signaturesOf(tok: DataFrame): DataFrame = {
    val aggs = MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hv") + lit(b)) % MinhashPrime).as(s"m$i")
    }
    tok.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: `bands` bands of `k/bands` rows each; docs sharing any
    * band bucket become candidate pairs (d1 < d2, distinct).
    *
    * Shape matters at scale: the signature is computed ONCE and the bands
    * explode out of it as an array (one narrow pass) — a per-band
    * union/self-join would recompute the scan→shingle→distinct→agg
    * pipeline 2×bands times (observed 8× in the naive plan). */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
                           bands: Int = 4, ngram: Int = 3): DataFrame =
    candidatesOf(signaturesOf(postings(docs, idCol, textCol, ngram)), bands)

  /** (doc, band, bucket) band rows of a signature frame — the LSH key
    * material, shared by the in-memory self-join ([[candidatesOf]]) and
    * the persisted signature store ([[saveMinhashStore]]). */
  private def bandedOf(sig: DataFrame, bands: Int): DataFrame = {
    val k = MinhashParams.size
    val rows = k / bands
    val bandStructs = (0 until bands).map { bnd =>
      val cols = (bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i"))
      struct(lit(bnd).as("band"), md5(concat_ws("_", cols: _*)).as("bucket"))
    }
    sig.select(col("doc"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private def candidatesOf(sig: DataFrame, bands: Int): DataFrame =
    candidatesOfBanded(bandedOf(sig, bands))

  /** LSH candidate pairs from an already-banded (doc, band, bucket)
    * frame — shared by the in-memory path and the persisted store's
    * [[derivePairsFromStore]]. DISTINCT also absorbs duplicate band
    * rows (a torn append re-writes a doc's bands; pairs are unchanged). */
  private def candidatesOfBanded(banded: DataFrame): DataFrame = {
    val l = banded.select(col("band"), col("bucket"), col("doc").as("d1"))
    val r = banded.select(col("band"), col("bucket"), col("doc").as("d2"))
    l.join(r, Seq("band", "bucket")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** Recompute the FULL verified duplicate pair set from a persisted
    * MinHash store ALONE — no corpus rescan: band rows regenerate the
    * LSH candidates (`bands/` self-join on (band, bucket) — the same
    * banded-collision shuffle as the in-memory path), the exact
    * candidate-restricted Jaccard verifies them against the stored
    * postings. This makes [[graft.streaming.DocStreams.nearDupIngest]]'s
    * documented remedy executable (round-14 verdict missing #2): its
    * per-batch pair log is at-most-once under replay, so a pipeline
    * that needs a replay-stable pair set derives it from the store —
    * the system of record — instead of trusting a replayed log
    * partition. Equals one-shot [[minhashDuplicates]] over the store's
    * corpus exactly (oracle-gated: q239): banding is per-doc
    * deterministic, and membership follows the postings authority — a
    * doc with band rows but no postings (torn append) joins nothing at
    * the verify and emits no pair, exactly as [[minhashIncremental]]
    * would treat it as unseen.
    *
    * Scale shape: the bands self-join shuffles (band, bucket)-keyed
    * rows once (AQE can skew-split hot buckets); the verify's posting
    * scan is semi-join-restricted to candidate docs, so only
    * candidate-pair postings shuffle — the whole-store pair derivation
    * costs one store scan plus candidate-bounded joins. */
  def derivePairsFromStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, threshold: Double,
                           asOfVersion: Option[Int] = None): DataFrame = {
    val fs = StoreSwap.fsOf(spark, storePath)
    // snapshot read: pin an older manifest (any version vacuum has
    // retained is a complete point-in-time file-set — copy-on-write
    // means a purge's "deleted" docs are still bytes on disk until
    // vacuum, so the pre-purge pair set is derivable after the purge)
    val (_, mfFiles) = asOfVersion
      .map(v => StoreSwap.manifestAt(fs, storePath, v))
      .getOrElse(requireManifest(fs, storePath, "derivePairsFromStore"))
    val storeToks = StoreSwap.readStoreDir(spark, storePath, "postings", mfFiles)
    val storeBands = StoreSwap.readStoreDir(spark, storePath, "bands", mfFiles)
    require(storeToks.columns.toSet == Set("doc", "hv", "pb") &&
      storeBands.columns.toSet == Set("doc", "band", "bucket", "pb"),
      s"derivePairsFromStore: $storePath is not a saveMinhashStore layout")
    val pairs = candidatesOfBanded(
      storeBands.select(col("doc"), col("band"), col("bucket")))
      .localCheckpoint()
    val candDocs = pairs.select(col("d1").as("doc"))
      .unionAll(pairs.select(col("d2").as("doc"))).distinct()
    val tok = storeToks
      .join(candDocs, Seq("doc"), "left_semi")
      .select(col("doc"), col("hv")).localCheckpoint()
    verifyJaccard(tok,
      tok.groupBy(col("doc")).agg(count(lit(1)).as("n")), pairs, threshold)
  }

  /** An empty (d1, d2, jaccard) frame typed after `idCol` — the pair
    * schema every verify in this module emits. */
  private def emptyPairsLike(docs: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val idType = docs.schema(idCol).dataType
    docs.sparkSession.createDataFrame(
      docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("d1", idType), StructField("d2", idType),
        StructField("jaccard", DoubleType))))
  }

  /** The verified duplicate pairs TOUCHING a given id set, derived from
    * the persisted store alone — [[derivePairsFromStore]] restricted to
    * a delta: only pairs with at least one side in `ids`, at delta
    * cost. This is what makes [[graft.streaming.DocStreams
    * .nearDupIngest]]'s per-batch pair log EXACTLY-ONCE under replay:
    * the batch's partition is defined as `pairsForIds(batch ids)`
    * evaluated after the batch's (idempotent) append, a pure function
    * of (store state, id set) — so a replayed batch rewrites the
    * IDENTICAL content instead of an empty partition (the at-most-once
    * wart this replaces: a replay saw every id as already-seen and
    * [[minhashIncremental]] returned nothing).
    *
    * Ids absent from the store (never ingested, or purged) contribute
    * no pairs; membership follows the postings authority exactly as in
    * [[derivePairsFromStore]]. For disjoint-id batches each pair
    * surfaces in exactly one batch — the one where its LATER doc
    * arrived (the earlier doc's batch cannot derive it: the partner's
    * band rows are not in the store yet); a re-sent id re-emits its
    * pairs, so consumers of a log whose SOURCE re-sends ids should
    * read it distinct.
    *
    * Scale shape: every store read is pruned by the delta — the id
    * docs' own band rows come from the pb-pruned `bands/` scan, the
    * collision scan reads `bandidx/` pruned to the band buckets those
    * keys touch, and the verify's posting scan is pruned to
    * the candidate docs' pb buckets. Bytes read scale with the DELTA
    * and its candidates, not the store. */
  def pairsForIds(spark: org.apache.spark.sql.SparkSession,
                  storePath: String, ids: DataFrame, idCol: String,
                  threshold: Double,
                  asOfVersion: Option[Int] = None): DataFrame = {
    val fs = StoreSwap.fsOf(spark, storePath)
    val (mfV, mfFiles) = asOfVersion
      .map(v => StoreSwap.manifestAt(fs, storePath, v))
      .getOrElse(requireManifest(fs, storePath, "pairsForIds"))
    val storeToks = StoreSwap.readStoreDir(spark, storePath, "postings", mfFiles)
    val storeBands = StoreSwap.readStoreDir(spark, storePath, "bands", mfFiles)
    require(storeToks.columns.toSet == Set("doc", "hv", "pb") &&
      storeBands.columns.toSet == Set("doc", "band", "bucket", "pb"),
      s"pairsForIds: $storePath is not a saveMinhashStore layout")
    val (pbN, bbN) = storeLayout(fs, storePath, mfV)
    val idFrame = ids.select(col(idCol).as("doc")).distinct().localCheckpoint()
    val idPbs = idFrame.select(storeBucket(col("doc"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    // the probe docs' own band rows: pb-pruned, id-restricted
    val idBands = pruneBuckets(storeBands, "pb", idPbs, pbN)
      .join(idFrame, Seq("doc"), "left_semi")
      .select(col("doc"), col("band"), col("bucket")).localCheckpoint()
    val touched = idBands
      .select(bandBucket(col("band"), col("bucket"), bbN).as("bb"))
      .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
    val collisionSide =
      pruneBuckets(StoreSwap.readStoreDir(spark, storePath, "bandidx", mfFiles),
        "bb", touched, bbN)
        .select(col("doc"), col("band"), col("bucket"))
    val probe = idBands.select(col("band"), col("bucket"), col("doc").as("__p"))
    val pairs = collisionSide
      .join(probe, Seq("band", "bucket"))
      .select(least(col("doc"), col("__p")).as("d1"),
        greatest(col("doc"), col("__p")).as("d2"))
      .where(col("d1") =!= col("d2")).distinct().localCheckpoint()
    val candDocs = pairs.select(col("d1").as("doc"))
      .unionAll(pairs.select(col("d2").as("doc"))).distinct().localCheckpoint()
    val candPbs = candDocs.select(storeBucket(col("doc"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val tok = pruneBuckets(storeToks, "pb", candPbs, pbN)
      .join(candDocs, Seq("doc"), "left_semi")
      .select(col("doc"), col("hv")).localCheckpoint()
    verifyJaccard(tok,
      tok.groupBy(col("doc")).agg(count(lit(1)).as("n")), pairs, threshold)
  }

  /** Full near-dup pipeline: LSH candidates generated FIRST, true Jaccard
    * computed only for candidate pairs.
    *
    * Order is the whole point (round-9 fix): the previous composition ran
    * [[jaccardPairs]] over the FULL corpus — the all-pairs-sharing-a-
    * shingle self-join the LSH stage exists to avoid — and only then
    * semi-joined candidates. On a near-dup-heavy corpus the hv self-join
    * explodes regardless of banding. Here the verify is candidate-
    * restricted: explode each candidate pair by d1's postings, keep the
    * hv values present in d2's postings — cost Σ|shingles(d1)| over
    * CANDIDATE pairs (LSH-bounded), independent of corpus-wide shingle
    * sharing. One posting scan is materialized and shared by the
    * signature build and both verify sides. */
  def minhashDuplicates(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double, bands: Int = 4, ngram: Int = 3): DataFrame =
    verifiedPairs(postings(docs, idCol, textCol, ngram).localCheckpoint(),
      threshold, bands)

  /** The store's doc-bucket partitioning: both directories are
    * PARTITIONED by `pb = stable63(doc) mod NStoreBuckets`, and the
    * bucket of any doc is computable from its ID ALONE — so
    * [[purgeMinhashStore]] knows which partitions a takedown batch
    * touches without scanning anything, and rewrites only those. */
  val NStoreBuckets: Int = 64
  private def storeBucket(doc: Column, n: Int): Column =
    StoreSwap.idBucket(doc, n)

  /** The band-keyed projection's partitioning: `bandidx/` is partitioned
    * by `bb = hash(band, bucket) mod bandBuckets`, computable from a
    * band key ALONE — so [[minhashIncremental]]'s delta-vs-store
    * candidate lookup partition-prunes to the buckets the delta's own
    * band keys touch, instead of scanning the whole store per batch
    * (the round-14 verdict's top item: a daily delta against a 100 TB
    * store was re-reading the store every ingest). The hash is
    * Spark-internal (Murmur3) — bb is layout-only and never appears in
    * a result, so no oracle has to reproduce it. */
  val NBandBuckets: Int = 64
  private def bandBucket(band: Column, bucket: Column, n: Int): Column =
    pmod(hash(band, bucket), lit(n))

  /** Per-store bucket counts, persisted at save time as a VERSIONED
    * layout ([[StoreSwap.readLayoutAt]]'s floor rule at the manifest
    * version being read) so every later verb routes with the SAME
    * counts the data was written with — a pinned snapshot routes with
    * its files' counts even after [[rebucketMinhashStore]] changed
    * them, and a store with no resolvable layout refuses. Bucket
    * counts are the pruning lever at scale: partition pruning saves
    * bytes only while a delta's key set is smaller than the bucket
    * count (a 1M-doc backfill's ~4M band keys hit every one of 64
    * buckets — no layout can prune a probe that genuinely touches
    * everything), so a 100 TB store is saved with counts sized to its
    * DAILY DELTA, not to the store: a streaming micro-batch of ~1k docs
    * against bandBuckets=65536 touches ≤ 4k buckets ≈ 6% of the store.
    * Defaults (64/64) suit the test scale. */
  private def storeLayout(fs: org.apache.hadoop.fs.FileSystem,
                          path: String, asOf: Int): (Int, Int) = {
    val kv = StoreSwap.readLayoutAt(fs, path, asOf)
    (kv("pb"), kv("bb"))
  }

  /** Partition-prune a store scan to `touched` buckets (shared
    * [[StoreSwap]] plumbing). */
  private def pruneBuckets(df: DataFrame, partCol: String,
                           touched: Seq[Long], total: Int): DataFrame =
    StoreSwap.prunePartitions(df, partCol, touched, total)

  // ------------------------------------------------------------------
  // Store manifest: reader isolation via copy-on-write (r14 verdict #6;
  // the shared plumbing lives in [[StoreSwap]]).
  //
  // Every reader of the MinHash store resolves the CURRENT file-set
  // through the highest-numbered `_manifest.v<N>` at the store root,
  // and every mutation verb is copy-on-write: new files land first,
  // then ONE rename-committed manifest makes them visible — old files
  // are never deleted by a mutation, only unlisted. Consequences, all
  // spec-gated:
  //  - a reader pinned mid-mutation resolved the previous manifest and
  //    every file it lists still exists — it sees the old consistent
  //    file-set or the new one, never a gap (the dir-swap design this
  //    replaces had a delete→rename window per partition);
  //  - a crash ANYWHERE before the flip leaves the new files unlisted
  //    (invisible garbage) and the store byte-identical to readers;
  //    re-running the verb is always the recovery, with no ordering
  //    contract between the three directories — the flip is the single
  //    commit point;
  //  - unlisted garbage accumulates until [[vacuumMinhashStore]], the
  //    retention verb: run it when no reader is pinned past the
  //    latest manifest (the standard retention rule).
  // Single-writer, as everywhere in the store family.
  // ------------------------------------------------------------------
  private def requireManifest(fs: org.apache.hadoop.fs.FileSystem,
                              path: String, verb: String): (Int, Seq[String]) =
    StoreSwap.latestManifest(fs, path)
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: $path is not a saveMinhashStore layout (no store manifest)"))

  /** True iff `path` holds a committed MinHash store (a manifest
    * exists — the save's single commit point, so a torn bootstrap
    * reads as absent and is simply re-run). */
  def minhashStoreReady(spark: org.apache.spark.sql.SparkSession,
                        path: String): Boolean =
    StoreSwap.latestManifest(StoreSwap.fsOf(spark, path), path).nonEmpty

  /** Drop every file no retained manifest lists — the retention verb
    * that reclaims the copy-on-write garbage mutations leave behind
    * (unflipped crash leftovers, superseded rewrite inputs, a losing
    * CAS writer's moved-in files) plus out-of-window manifest versions
    * and staging roots. `keepVersions` = how much history snapshot
    * reads may still pin (default 1: pure GC, history collapses to the
    * present). Run it when no reader is pinned OUTSIDE the kept window
    * (the standard retention rule; an out-of-window reader's file-set
    * is exactly what vacuum deletes).
    *
    * @return number of data files deleted. */
  def vacuumMinhashStore(spark: org.apache.spark.sql.SparkSession,
                         path: String, keepVersions: Int = 1,
                         graceMs: Long = 0L): Long = {
    requireManifest(StoreSwap.fsOf(spark, path), path, "vacuumMinhashStore")
    StoreSwap.vacuumManifested(spark, path,
      Seq("postings", "bands", "bandidx"), "vacuumMinhashStore", keepVersions,
      graceMs)
  }

  /** Persist the MinHash signature store a growing corpus dedupes
    * against — the near-dup analog of the q75 exact fingerprint store
    * (round-13 verdict missing #2). Layout under `path`:
    *
    *  - `postings/`: (doc, hv) — each doc's distinct 32-bit shingle
    *    hashes, the material the exact Jaccard verify needs;
    *  - `bands/`: (doc, band, bucket) — the LSH band keys, the
    *    material candidate generation needs;
    *  - `bandidx/`: the SAME band rows again, partitioned by the
    *    band-derived bucket `bb` ([[NBandBuckets]]) instead of the doc
    *    bucket — the candidate-lookup projection, so an ingest batch
    *    prunes its delta-vs-store collision scan to the band buckets
    *    the delta touches instead of reading every band row ever
    *    stored.
    *
    * All directories are append-mode bags; `postings/` and `bands/`
    * are partitioned by the id-derived doc bucket `pb`
    * ([[NStoreBuckets]]) so the delete path rewrites only affected
    * partitions and routes from ids alone (the PURGE AUTHORITY);
    * `bandidx/` is a derived projection of `bands/` kept exact by
    * every verb. [[minhashIncremental]] grows all three one delta
    * batch at a time, [[purgeMinhashStore]] forgets,
    * [[compactMinhashStore]] folds the accumulated per-append
    * file-sets, [[vacuumMinhashStore]] reclaims unlisted garbage.
    * Every reader resolves the current file-set through the store
    * MANIFEST (see the copy-on-write note above [[vacuumMinhashStore]])
    * — the save's manifest commit is its single atomicity point, so a
    * torn save reads as no store at all ([[minhashStoreReady]]) and is
    * simply re-run. */
  def saveMinhashStore(docs: DataFrame, idCol: String, textCol: String,
                       path: String, bands: Int = 4, ngram: Int = 3,
                       storeBuckets: Int = NStoreBuckets,
                       bandBuckets: Int = NBandBuckets): Unit = {
    require(storeBuckets >= 1 && bandBuckets >= 1,
      s"saveMinhashStore: bucket counts must be >= 1: $storeBuckets/$bandBuckets")
    val tok = postings(docs, idCol, textCol, ngram).localCheckpoint()
    val banded = bandedOf(signaturesOf(tok), bands).localCheckpoint()
    val fs = StoreSwap.fsOf(docs.sparkSession, path)
    // STAGED like every mutation verb — never an overwrite into the
    // live dirs: saving over an existing store continues the version
    // chain with a manifest listing ONLY this save's file-set, while
    // every retained older version keeps its complete files (pinned
    // readers unbroken; the superseded store is vacuum garbage). The
    // repartition on the partition column keeps ONE file per bucket
    // per write instead of (tasks × buckets) small files.
    val version = StoreSwap.manifestVersions(fs, path).lastOption.getOrElse(0) + 1
    val tag = s"s${java.util.UUID.randomUUID().toString.take(8)}_"
    def stage(df: DataFrame, n: Int, partCol: String,
              dir: String): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "save", tag)(root =>
        df.repartition(n, col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(root))
    val staged =
      stage(banded.withColumn("bb",
        bandBucket(col("band"), col("bucket"), bandBuckets)),
        bandBuckets, "bb", "bandidx") ++
      stage(banded.withColumn("pb", storeBucket(col("doc"), storeBuckets)),
        storeBuckets, "pb", "bands") ++
      stage(tok.withColumn("pb", storeBucket(col("doc"), storeBuckets)),
        storeBuckets, "pb", "postings")
    // the VERSIONED layout (floor-resolved by readers), then the
    // commit point; a crash between the two leaves an orphan layout no
    // committed version resolves
    val lc = StoreSwap.commitLayout(fs, path, version,
      Seq("pb" -> storeBuckets, "bb" -> bandBuckets))
    StoreSwap.commitManifest(fs, path, version, staged,
      layoutCommitted = true, layoutCreated = lc)
  }

  /** Dedupe a NEW batch against a persisted MinHash store AND grow the
    * store — the daily-crawl near-dup shape ([[exactIncremental]]'s
    * byte-exact contract extended to Jaccard similarity): candidates
    * come from band-bucket collisions of the delta against the store
    * plus within the delta, the verify is the exact candidate-
    * restricted Jaccard, and the surviving NEW docs' postings + bands
    * are appended so the next batch sees them.
    *
    * Returns the verified duplicate pairs (d1 < d2, jaccard ≥
    * threshold) that involve at least one NEW doc. Already-seen ids
    * (postings present in the store) are SKIPPED entirely — re-running
    * the same batch returns zero pairs and appends nothing, so
    * ingestion is idempotent. The union of returned pair sets across
    * batches equals one-shot [[minhashDuplicates]] over the union
    * corpus EXACTLY (banding is per-doc deterministic, so a pair
    * band-collides independently of which batch its docs arrived in;
    * oracle-gated at q234). Keep-which-copy is the caller's policy on
    * the pairs, as everywhere in this module ([[nearDupKeepBest]]).
    * `computePairs = false` is the ingest-only path: the append and
    * its idempotence contract are identical but the candidate scan and
    * verify are skipped and an empty pair frame returns — for callers
    * that derive a replay-stable pair set from the store afterwards
    * ([[pairsForIds]], the streaming ingest's shape).
    *
    * Scale shape (100 TB store, delta-sized batch): the store is never
    * shuffled — the delta's ids, band keys, and candidate doc ids
    * semi-join the store reads (seen-probe, candidate generation,
    * verify postings), AQE broadcasting each delta-sized side; each
    * returns a
    * delta-bounded result; every shuffle in the plan carries delta- or
    * candidate-sized frames. Candidate generation reads the
    * band-bucket-keyed `bandidx/` projection PARTITION-PRUNED to the
    * band buckets the delta's own keys touch ([[NBandBuckets]]; the
    * round-14 verdict's top item — the previous shape scanned the
    * entire `bands/` dir every batch, linear in STORE size per delta).
    * Deltas past the broadcast threshold fall back to shuffle joins of
    * the store scans (loud in the plan, correct either way; split huge
    * backfills into batches instead). Per-batch
    * cost is O(scan(delta-touched buckets) + |delta| log |delta|).
    *
    * Torn append: the batch's files land first, the manifest flip
    * makes them visible LAST — a crash anywhere before the flip leaves
    * the whole batch invisible (its files are unlisted garbage for
    * [[vacuumMinhashStore]]), so the batch reads as unseen and
    * re-running it IS the recovery, with no duplicate ever visible and
    * no ordering contract between the three directories. */
  def minhashIncremental(batch: DataFrame, idCol: String, textCol: String,
                         storePath: String, threshold: Double,
                         bands: Int = 4, ngram: Int = 3,
                         computePairs: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val fsInc = StoreSwap.fsOf(spark, storePath)
    val (mfVersion, mfFiles) =
      requireManifest(fsInc, storePath, "minhashIncremental")
    val storeToks = StoreSwap.readStoreDir(spark, storePath, "postings", mfFiles)
    val storeBands = StoreSwap.readStoreDir(spark, storePath, "bands", mfFiles)
    require(storeToks.columns.toSet == Set("doc", "hv", "pb") &&
      storeBands.columns.toSet == Set("doc", "band", "bucket", "pb"),
      s"minhashIncremental: $storePath is not a saveMinhashStore layout")
    val (pbN, bbN) = storeLayout(fsInc, storePath, mfVersion)
    // seen-probe: postings scan PRUNED to the batch ids' own buckets
    // (computable from the ids alone), then filtered by the batch ids —
    // result is ≤ |batch| ids; the batch drops them locally
    val batchIds = batch.select(col(idCol)).distinct().localCheckpoint()
    val batchPbs = batchIds.select(storeBucket(col(idCol), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val seenIds = pruneBuckets(storeToks, "pb", batchPbs, pbN)
      .select(col("doc"))
      .join(batchIds, col("doc") === col(idCol), "left_semi")
      .distinct().localCheckpoint()
    val fresh = batch.join(seenIds,
      batch(idCol) === seenIds("doc"), "left_anti")
    val tokNew = postings(fresh, idCol, textCol, ngram).localCheckpoint()
    val sigNew = signaturesOf(tokNew).localCheckpoint()
    val bandedNew = bandedOf(sigNew, bands).localCheckpoint()
    // candidates: delta×delta (the in-memory self-join) plus
    // delta×store. The store side reads the band-keyed bandidx/
    // projection pruned to the ≤ NBandBuckets partitions the delta's
    // own band keys touch (PartitionFilters at the scan — bytes read
    // scale with the DELTA, not the store).
    val out = if (!computePairs) {
      // ingest-only path ([[graft.streaming.DocStreams.nearDupIngest]]):
      // the caller derives a replay-stable pair set from the store
      // AFTER the append ([[pairsForIds]]), so the candidate scan and
      // verify here would be thrown-away work — skip them entirely
      emptyPairsLike(batch, idCol)
    } else {
    val intra = candidatesOf(sigNew, bands)
    val bn = bandedNew.select(col("band"), col("bucket"),
      col("doc").as("__new_doc"))
    val touched = bandedNew
      .select(bandBucket(col("band"), col("bucket"), bbN).as("bb"))
      .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
    val cross = pruneBuckets(
        StoreSwap.readStoreDir(spark, storePath, "bandidx", mfFiles),
        "bb", touched, bbN)
      .select(col("doc"), col("band"), col("bucket"))
      .join(bn, Seq("band", "bucket"))
      .select(least(col("doc"), col("__new_doc")).as("d1"),
        greatest(col("doc"), col("__new_doc")).as("d2"))
      .where(col("d1") =!= col("d2"))
      .distinct()
    val pairs = intra.unionAll(cross).distinct().localCheckpoint()
    // verify postings: the delta's own, plus ONLY the store docs that
    // appear in a candidate pair (store scan, semi-joined)
    val candDocs = pairs.select(col("d1").as("doc"))
      .unionAll(pairs.select(col("d2").as("doc"))).distinct()
      .join(tokNew.select(col("doc")).distinct(), Seq("doc"), "left_anti")
      .localCheckpoint()
    val candPbs = candDocs.select(storeBucket(col("doc"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val tokOld = pruneBuckets(storeToks, "pb", candPbs, pbN)
      .join(candDocs, Seq("doc"), "left_semi")
      .select(col("doc"), col("hv"))
    val tokAll = tokNew.unionAll(tokOld).localCheckpoint()
    verifyJaccard(tokAll,
      tokAll.groupBy(col("doc")).agg(count(lit(1)).as("n")),
      pairs, threshold).localCheckpoint()
    }
    // grow the store, copy-on-write: each frame is staged then MOVED
    // into the live tree under batch-unique names, and ONE manifest
    // flip at the end makes the whole batch visible atomically. No
    // explicit partition count on the delta stages: hash distribution
    // on the bucket column already lands each touched bucket in ONE
    // task (one file per bucket), and AQE coalesces the delta-sized
    // shuffle to a few tasks — an explicit count equal to the store's
    // bucket total would spawn thousands of near-empty tasks per
    // micro-batch on a high-bucket-count store.
    val tag = s"a${java.util.UUID.randomUUID().toString.take(8)}_"
    def stageAppend(df: DataFrame, partCol: String, dir: String): Seq[String] =
      // tag-unique staging: racing writers must never clobber each
      // other's staging (CAS decides the winner; the loser's moved-in
      // files are unlisted garbage, never a torn mix)
      StoreSwap.stageAndMoveIn(fsInc, storePath, dir, "ingest", tag)(root =>
        df.repartition(col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(root))
    val added =
      stageAppend(bandedNew.withColumn("bb",
        bandBucket(col("band"), col("bucket"), bbN)), "bb", "bandidx") ++
      stageAppend(bandedNew.withColumn("pb",
        storeBucket(col("doc"), pbN)), "pb", "bands") ++
      stageAppend(tokNew.withColumn("pb",
        storeBucket(col("doc"), pbN)), "pb", "postings")
    // nothing new (fully-seen batch): skip the flip — idempotent
    // re-ingest leaves the manifest version untouched
    if (added.nonEmpty)
      StoreSwap.commitManifest(fsInc, storePath, mfVersion + 1, mfFiles ++ added)
    out
  }

  /** Forget PURGED documents from a persisted MinHash signature store —
    * the takedown path completing the store's lifecycle
    * (save/ingest/purge/compact, the same four verbs as the BM25 and
    * IVF artifact families). `postings/` and `bands/` are partitioned
    * by the ID-DERIVED doc bucket, so their affected partitions are
    * computed from the purge ids alone (no store scan for routing);
    * the band-keyed `bandidx/` projection is routed by a delta-sized
    * probe of the pb-PRUNED bands rows (the purged docs' own band
    * keys). Each affected (dir, bucket) partition is rewritten in ONE
    * partition-pruned job per directory, copy-on-write: the rewritten
    * files are MOVED into the live tree under purge-unique names, old
    * files stay on disk for any pinned reader, and ONE manifest flip
    * at the end unlists every touched partition's old files and lists
    * the rewrites — the purge is atomic to readers across all three
    * directories. IDEMPOTENT: the membership probe reads the current
    * manifest, so after a crash at ANY point before the flip the
    * purged docs still read as members and a re-run with the same ids
    * redoes the whole purge (the unflipped rewrite files are garbage
    * for [[vacuumMinhashStore]]). Purging unknown ids is a REAL no-op:
    * the probe restricts the rewrite to buckets that actually hold a
    * purged doc, and returns without writing a byte when none does. A
    * purged doc is fully forgotten — later [[minhashIncremental]]
    * batches treat it as never seen (re-ingest re-admits it), and it
    * can no longer appear in any candidate pair.
    *
    * @return number of purged docs that were actually in the store. */
  def purgeMinhashStore(spark: org.apache.spark.sql.SparkSession,
                        path: String, ids: DataFrame,
                        idCol: String): Long = {
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) = requireManifest(fs, path, "purgeMinhashStore")
    val (pbN, bbN) = storeLayout(fs, path, mfVersion)
    val purgeKeys = ids
      .select(col(idCol).cast("string").as("__purge_id"))
      .distinct().localCheckpoint()
    // candidate partitions from the ids alone — no store scan
    val pbsAll = purgeKeys
      .select(storeBucket(col("__purge_id"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (pbsAll.isEmpty) return 0L
    val matched = pruneBuckets(
        StoreSwap.readStoreDir(spark, path, "postings", mfFiles), "pb",
        pbsAll.toSeq, pbN)
      .select(col("doc"), col("pb").cast("long").as("pb")).distinct()
      .join(broadcast(purgeKeys),
        col("doc").cast("string") === col("__purge_id"), "left_semi")
      .groupBy(col("pb")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (matched.isEmpty) return 0L
    val pbs = matched.keys.toSeq.sorted
    // bandidx routing: the purged docs' band keys, a delta-sized probe
    // of the pb-pruned bands rows that names the band buckets to
    // rewrite (the projection is band-partitioned, so ids alone cannot
    // route it)
    val bbs =
      pruneBuckets(StoreSwap.readStoreDir(spark, path, "bands", mfFiles), "pb",
          pbs, pbN)
        .join(broadcast(purgeKeys),
          col("doc").cast("string") === col("__purge_id"), "left_semi")
        .select(bandBucket(col("band"), col("bucket"), bbN).as("bb"))
        .distinct().collect().map(_.getInt(0).toLong).sorted.toSeq
    val tag = s"p${java.util.UUID.randomUUID().toString.take(8)}_"
    def rewriteDir(dir: String, partCol: String, parts: Seq[Long],
                   total: Int): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "purge", tag)(root =>
        pruneBuckets(StoreSwap.readStoreDir(spark, path, dir, mfFiles), partCol,
            parts, total)
          .join(broadcast(purgeKeys),
            col("doc").cast("string") === col("__purge_id"), "left_anti")
          .repartition(parts.size, col(partCol))
          .write.mode("overwrite").partitionBy(partCol)
          .parquet(root))
    val rewritten =
      rewriteDir("bandidx", "bb", bbs, bbN) ++
        rewriteDir("bands", "pb", pbs, pbN) ++
        rewriteDir("postings", "pb", pbs, pbN)
    // ONE flip: every touched partition's old files unlist, the
    // rewrites list — atomic across all three directories
    val dropPrefixes =
      pbs.flatMap(v => Seq(s"postings/pb=$v/", s"bands/pb=$v/")) ++
        bbs.map(v => s"bandidx/bb=$v/")
    StoreSwap.commitManifest(fs, path, mfVersion + 1,
      mfFiles.filterNot(f => dropPrefixes.exists(f.startsWith)) ++ rewritten)
    matched.values.sum
  }

  /** Fold each store partition's accumulated per-ingest file-sets into
    * ~`targetBytes` files — [[IvfIndex.compactPostings]]' small-file
    * compaction applied to the signature store (every
    * [[minhashIncremental]] batch adds one file per touched bucket).
    * Content-preserving by construction (the directories are plain bags
    * within a partition). ONE partition-pruned job per directory
    * rewrites every multi-file bucket (multi-file BY THE MANIFEST —
    * unlisted garbage never gets compacted into the store) into a
    * staging root, the compacted files move in copy-on-write, and ONE
    * manifest flip commits all directories atomically — never a
    * per-bucket job loop (the measured 9.3-vs-1.6 s serial-submission
    * shape). Compaction is a maintenance verb already gated on "no
    * ingest in flight", so it ends with [[vacuumMinhashStore]] to
    * reclaim the inputs it just superseded (do not run it while a
    * reader is pinned to an older manifest — the same retention rule
    * vacuum itself carries). A crash before the flip changes nothing
    * visible; re-running is the recovery. */
  def compactMinhashStore(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          targetBytes: Long = 128L * 1024 * 1024,
                          keepVersions: Int = 1): Unit = {
    requireManifest(StoreSwap.fsOf(spark, path), path, "compactMinhashStore")
    StoreSwap.compactManifested(spark, path,
      Seq("postings" -> "pb", "bands" -> "pb", "bandidx" -> "bb"),
      "compactMinhashStore", targetBytes)
    vacuumMinhashStore(spark, path, keepVersions)
  }

  /** Re-bucket a persisted MinHash store — the maintenance verb that
    * completes the layout lifecycle (round-15 verdict missing #3).
    * Bucket counts are pinned at save time and sized to the DELTA, and
    * partition pruning wins only while a delta's key set is smaller
    * than the bucket count: a store saved for small deltas that later
    * serves bigger ones degrades back to full scans with no remedy
    * short of a from-scratch rebuild. This verb rewrites `postings/`,
    * `bands/`, and `bandidx/` at the new counts in one staged job per
    * directory, commits them behind ONE manifest flip listing ONLY the
    * new files (a reader sees the old layout or the new one, never a
    * mix — bucket routing and data must never cross), and records the
    * counts as a VERSIONED layout, so snapshot reads pinned before the
    * re-bucket still route with the old counts against the old files.
    * Content-preserving by construction: the directories are bags and
    * only the partition key changes (spec-gated byte-identical pairs;
    * oracle-gated at q255). Crash before the flip changes nothing
    * visible; re-run is the recovery; the superseded layout is vacuum
    * garbage.
    * Offline maintenance like compact: run quiescent, then
    * [[vacuumMinhashStore]] on the retention schedule. */
  def rebucketMinhashStore(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           storeBuckets: Int = NStoreBuckets,
                           bandBuckets: Int = NBandBuckets): Unit = {
    require(storeBuckets >= 1 && bandBuckets >= 1,
      s"rebucketMinhashStore: bucket counts must be >= 1: " +
        s"$storeBuckets/$bandBuckets")
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) =
      requireManifest(fs, path, "rebucketMinhashStore")
    val bandsRows = StoreSwap.readStoreDir(spark, path, "bands", mfFiles)
      .select(col("doc"), col("band"), col("bucket"))
    val tokRows = StoreSwap.readStoreDir(spark, path, "postings", mfFiles)
      .select(col("doc"), col("hv"))
    val tag = s"b${java.util.UUID.randomUUID().toString.take(8)}_"
    def rewrite(df: DataFrame, n: Int, partCol: String,
                dir: String): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "rebucket", tag)(root =>
        df.repartition(n, col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(root))
    val staged =
      rewrite(bandsRows.withColumn("bb",
        bandBucket(col("band"), col("bucket"), bandBuckets)),
        bandBuckets, "bb", "bandidx") ++
      rewrite(bandsRows.withColumn("pb", storeBucket(col("doc"), storeBuckets)),
        storeBuckets, "pb", "bands") ++
      rewrite(tokRows.withColumn("pb", storeBucket(col("doc"), storeBuckets)),
        storeBuckets, "pb", "postings")
    val lc = StoreSwap.commitLayout(fs, path, mfVersion + 1,
      Seq("pb" -> storeBuckets, "bb" -> bandBuckets))
    StoreSwap.commitManifest(fs, path, mfVersion + 1, staged,
      layoutCommitted = true, layoutCreated = lc)
  }

  /** The candidate-first verify over an already-materialized (doc, hv)
    * posting frame — shared by [[minhashDuplicates]] and the collapsed
    * leader pipeline in [[nearDupKeepBest]]. */
  private def verifiedPairs(tok: DataFrame, threshold: Double,
                            bands: Int): DataFrame =
    verifyJaccard(tok, tok.groupBy(col("doc")).agg(count(lit(1)).as("n")),
      candidatesOf(signaturesOf(tok), bands), threshold)

  /** Jaccard-verify a GIVEN (d1, d2) pair set against the posting frame
    * (candidate-restricted intersection, the round-9 shape); emits the
    * pairs at or above `threshold`. Pairs sharing no shingle vanish at
    * the inner intersection join — correct, since their Jaccard is 0
    * and every caller filters at a positive threshold. */
  private def verifyJaccard(tok: DataFrame, sz: DataFrame, pairs: DataFrame,
                            threshold: Double): DataFrame = {
    val inter = pairs
      .join(tok.select(col("doc").as("d1"), col("hv")), Seq("d1"))
      .join(tok.select(col("doc").as("d2"), col("hv")), Seq("d2", "hv"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    joinSizes(inter, sz, threshold)
  }

  /** How many LSH candidates per document the clustering path verifies
    * in ONE pass before routing to [[componentsByAdaptiveVerify]]'s
    * round-based plan. Sparse corpora (the normal case) stay on the
    * single-pass verify; candidate-dense corpora (near-dup cliques)
    * switch to adaptive. Pure plan choice — labels are identical. */
  val AdaptiveVerifyRatio: Long = 16L

  /** Upper estimate of the LSH candidate count: Σ over band buckets of
    * C(m,2) (a pair colliding in several bands counts once per band,
    * so this bounds the distinct-pair count from above — safe for
    * routing). One aggregate over the small signature frame; no pair
    * row is ever built. */
  private def candidateMass(sig: DataFrame, bands: Int): Double = {
    val k = MinhashParams.size
    val rows = k / bands
    val bandStructs = (0 until bands).map { bnd =>
      val cols = (bnd * rows until (bnd + 1) * rows).map(i => col(s"m$i"))
      struct(lit(bnd).as("band"), md5(concat_ws("_", cols: _*)).as("bucket"))
    }
    sig.select(explode(array(bandStructs: _*)).as("bb"))
      .groupBy(col("bb")).agg(count(lit(1)).as("m"))
      .agg(coalesce(
        sum(col("m").cast("double") * (col("m") - 1).cast("double") / 2.0),
        lit(0.0)).as("mass"))
      .head().getDouble(0)
  }

  /** EXACT component labels over the Jaccard-verified candidate graph
    * WITHOUT verifying every candidate — the clique-floor fix
    * (round 12, SCALE.md): a near-dup clique of k distinct docs makes
    * the LSH candidate set C(k,2)-sized, but its COMPONENT structure
    * needs only O(k) verified edges. Rounds: drop candidates whose
    * endpoints already share a component (verifying them could never
    * change the partition — the exactness argument), verify a bounded
    * per-node selection of the survivors (fanout doubles each round, so
    * false-positive-dense graphs still finish in O(log) rounds),
    * accumulate true edges, relabel. Terminates because every round
    * removes its selection from the candidate set; on round exhaustion
    * the (tiny) remainder is verified outright — exactness never
    * depends on the round budget. Labels equal components over the
    * fully-verified graph (spec-gated against the one-pass path). */
  private def componentsByAdaptiveVerify(nodes: DataFrame, tok: DataFrame,
                                         sz: DataFrame, cand0: DataFrame,
                                         threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1")).orderBy(col("d2"))
    var cand = cand0
    var edges: DataFrame = null
    var labels = nodes.select(col("doc"), col("doc").as("component"))
    var round = 0
    val maxRounds = 40
    var done = false
    while (!done && round < maxRounds) {
      val live = cand
        .join(labels.select(col("doc").as("d1"), col("component").as("__c1")),
          Seq("d1"))
        .join(labels.select(col("doc").as("d2"), col("component").as("__c2")),
          Seq("d2"))
        .where(col("__c1") =!= col("__c2"))
        .select(col("d1"), col("d2"))
      val fanout = math.min(8L << round, 1L << 20).toInt
      val sel = live.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= fanout).select(col("d1"), col("d2"))
        .localCheckpoint()
      if (sel.isEmpty) done = true
      else {
        val verified = verifyJaccard(tok, sz, sel, threshold)
          .select(col("d1"), col("d2"))
        edges = (if (edges == null) verified
          else edges.unionByName(verified)).localCheckpoint()
        cand = cand.join(sel, Seq("d1", "d2"), "left_anti").localCheckpoint()
        labels = componentsAuto(nodes, "doc",
          edges.select(col("d1"), col("d2"))).localCheckpoint()
        round += 1
      }
    }
    if (!done) {
      // round budget exhausted (pathological false-positive mass):
      // verify everything still live in one pass — exact regardless
      val live = cand
        .join(labels.select(col("doc").as("d1"), col("component").as("__c1")),
          Seq("d1"))
        .join(labels.select(col("doc").as("d2"), col("component").as("__c2")),
          Seq("d2"))
        .where(col("__c1") =!= col("__c2"))
        .select(col("d1"), col("d2"))
      val rest = verifyJaccard(tok, sz, live, threshold)
        .select(col("d1"), col("d2"))
      val all = if (edges == null) rest else edges.unionByName(rest)
      labels = componentsAuto(nodes, "doc", all)
    }
    labels
  }

  /** Directional containment pairs — the partial-duplicate detector
    * symmetric Jaccard misses: a short document quoted inside a long one
    * scores near-zero Jaccard (union is dominated by the long doc) but
    * containment |S_src ∩ S_dst| / |S_src| ≈ 1. The curation use is
    * quote/boilerplate-extraction and subset-document pruning at corpus
    * scale.
    *
    * EXACT, via PPJoin-style prefix filtering: order the shingle
    * universe globally by (document frequency asc, hv) and take each
    * src's first p = ⌊(1−τ)·n⌋+1 shingles as probes. If a dst misses
    * ALL p probes then |S_src ∖ S_dst| ≥ p > (1−τ)·n, so containment
    * < τ — every qualifying pair MUST share a probe, and candidate
    * generation (probe postings ⋈ full postings on hv) has perfect
    * recall with no rare-shingle contract. Rarest-first probe order is
    * the fan-out minimizer: the candidate count is Σ_probe df(hv),
    * smallest when probes are the rarest shingles available. The exact
    * intersection then runs candidate-restricted (the round-9 lesson):
    * explode candidates by src's postings, keep hv present in dst's —
    * cost Σ|shingles(src)| over candidate pairs only. One posting scan
    * is materialized and shared by every stage.
    *
    * Scale shape: the probe side is the (1−τ) fraction of postings
    * (τ=0.9 ⇒ ~10%); exchanges carry (id, hv) longs only, never text.
    * Inherent worst case: a corpus saturated with repeated n-grams makes
    * even the rarest probes common — raise `ngram` so the shingle space
    * outgrows the corpus (the knob that keeps ALL shingle-based
    * similarity joins near-linear, q20's lesson). Output: (src, dst,
    * n_src, containment), src ≠ dst, containment ≥ threshold, both
    * directions reported independently. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, ngram: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold $threshold outside (0, 1]")
    val tok = postings(docs, idCol, textCol, ngram).localCheckpoint()
    val sz = tok.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val dfreq = tok.groupBy(col("hv")).agg(count(lit(1)).as("df"))
    // per-doc probe prefix: rank by global (df, hv) order; the +1e-9
    // nudge biases the float product UP so an exactly-integer (1−τ)·n
    // never floors low (under-probing would lose recall; the rare
    // over-probe costs one extra candidate row)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("df"), col("hv"))
    val prefix = tok.join(dfreq, Seq("hv"))
      .withColumn("__rk", row_number().over(rankW))
      .join(sz, Seq("doc"))
      .where(col("__rk") <=
        floor(lit(1.0 - threshold) * col("n") + lit(1e-9)) + 1)
      .select(col("doc").as("src"), col("hv"))
    val cand = prefix
      .join(tok.select(col("doc").as("dst"), col("hv")), Seq("hv"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val inter = cand
      .join(tok.select(col("doc").as("src"), col("hv")), Seq("src"))
      .join(tok.select(col("doc").as("dst"), col("hv")), Seq("dst", "hv"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc").as("src"), col("n").as("n_src")), Seq("src"))
      .withColumn("containment", col("inter").cast("double") / col("n_src"))
      .where(col("containment") >= threshold)
      .select(col("src"), col("dst"), col("n_src"),
        round(col("containment"), 6).as("containment"))
  }

  /** SimHash near-dup pairs: signatures within `maxBits` hamming distance.
    * Candidate generation by pigeonhole banding — split the 48-bit
    * signature into `maxBits + 1` 12-bit bands (4096 buckets per band —
    * byte-bands were measured too coarse on clumpy corpora); any pair
    * with hamming ≤ maxBits must agree exactly on at least one band.
    * Exact hamming verify via bit_count(xor). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxBits: Int = 3): DataFrame = {
    val sig = simhash(docs, idCol, textCol)
    val bands = (0 to maxBits).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * 12).bitwiseAND(0xfff).as("bucket"))
    }
    val banded = sig.select(col("doc"), col("simhash"),
      explode(array(bands: _*)).as("bb"))
      .select(col("doc"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = banded.select(col("band"), col("bucket"), col("doc").as("d1"), col("simhash").as("s1"))
    val r = banded.select(col("band"), col("bucket"), col("doc").as("d2"), col("simhash").as("s2"))
    l.join(r, Seq("band", "bucket")).where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .where(col("hamming") <= maxBits)
      .distinct()
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): slide a window of `window` consecutive shingle hashes and
    * keep each window's minimum — a position-robust document fingerprint
    * set whose size is ~2/(window+1) of the shingle count. Distinct
    * (doc, fingerprint) pairs out; windows that spill past the document
    * tail are excluded (count-guard = w). */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            ngram: Int = 3, window: Int = 4): DataFrame = {
    val sh = docs.select(col(idCol).as("doc"),
      posexplode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram))
        .as(Seq("pos", "hv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, window - 1)
    sh.withColumn("m", min(col("hv")).over(w))
      .withColumn("c", count(lit(1)).over(w))
      .where(col("c") === window)
      .select(col("doc"), col("m").as("fp"))
      .distinct()
  }

  /** SimHash: 48-bit signature; near-dups = signatures within `maxBits`
    * hamming distance. Bit j weight = +1 if bit j of the 48-bit token hash
    * else -1, summed over distinct tokens; sign → bit.
    *
    * Computed by the native one-pass [[graft.functions.SimHash48]]
    * expression — the signature pass is a narrow scan with ZERO exchanges
    * (the declarative explode + 48-SUM hash aggregate it replaces shuffled
    * every (doc, token-hash) pair; DedupReference in the specs keeps
    * that formulation as the executable spec). The hash must genuinely
    * fill all 48 bits: with a 32-bit hash the top pigeonhole band is constant-zero
    * and [[simhashNearDups]]'s band join degenerates to all-pairs. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.SimHash48.simhash48(col(textCol)).as("simhash"))

  /** Benchmark decontamination: drop (or audit) every corpus document
    * that shares at least one word n-gram with the evaluation set — the
    * standard guard against test-set leakage into training data.
    *
    * Shape at scale: the eval side reduces to DISTINCT shingle hashes
    * (tiny — benchmarks are KB-MB), broadcast against the corpus posting
    * pass; contaminated ids surface from ONE semi-join, and the final
    * anti-join keeps clean docs. The corpus text itself never shuffles —
    * only (doc, 8-byte hash) postings flow.
    *
    * @return the clean subset of `corpus` (all original columns). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, ngram: Int = 3): DataFrame = {
    val evalShingles = evalSet
      .select(explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram)).as("hv"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol).as("__doc"),
        explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram)).as("hv"))
      .join(broadcast(evalShingles), Seq("hv"), "left_semi")
      .select(col("__doc")).distinct()
    corpus.join(contaminated,
      corpus(idCol) === contaminated("__doc"), "left_anti")
  }

  /** The CONTINUOUS cousin of [[decontaminate]]: instead of dropping a
    * document on one shared n-gram, score its overlap — the fraction of
    * its distinct n-gram shingles NOT present in the reference set.
    * Novelty 1.0 = fully unseen content; near 0 = near-verbatim reuse.
    * The report a pipeline uses to TUNE a decontamination threshold, and
    * the dataset-vs-dataset freshness audit ([[overlapMatrix]] is the
    * group-level roll-up; this is per document).
    *
    * Scale shape: identical to [[decontaminate]] — the reference's
    * distinct 4-byte shingle hashes broadcast; the corpus side shuffles
    * only its distinct (doc, hash) posting pairs. Docs with fewer than
    * `ngram` tokens have no shingles and are absent from the output
    * (nothing to score). */
  def noveltyScore(corpus: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, ngram: Int = 3): DataFrame = {
    val refShingles = ref
      .select(explode(
        graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram))
        .as("hv"))
      .distinct()
      .withColumn("__seen", lit(1))
    corpus
      .select(col(idCol).as("doc"),
        explode(
          graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram))
          .as("hv"))
      .distinct()
      .join(broadcast(refShingles), Seq("hv"), "left")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
  }

  /** [[decontaminate]]'s scale path for LARGE eval sets. The broadcast
    * variant ships the full distinct-shingle hash set to every task —
    * right for KB–MB benchmarks, wrong once the contamination list is
    * itself corpus-sized (every public benchmark + train splits +
    * paraphrase expansions: 10^8-10^9 n-grams, tens of GB as a hash
    * relation). A Bloom filter at ~10 bits/element (1% fpp) is ~100×
    * smaller: the corpus posting stream is prefiltered by a NARROW
    * `might_contain` — no join, no shuffle, and only ~fpp of clean
    * postings survive — then the surviving sliver meets the eval
    * shingles in an EXACT semi-join that removes the false positives.
    * Output is byte-identical to [[decontaminate]]: the bloom changes
    * the plan, never the answer (PlanShape- and oracle-gated on the
    * same SQL).
    *
    * Driver state: the serialized filter (~1.2 MB per 10^6 distinct
    * n-grams at 1% fpp), built by the distributed `stat.bloomFilter`
    * aggregate. It ships to executors as a BROADCAST (once per executor,
    * torrent-distributed), NOT as a plan literal — a literal rides
    * through every driver-side plan transform and serializes into every
    * task set, which at the true 10^9-n-gram operating point (bloom
    * ≈ 1.2 GB at 1% fpp, 600 MB at 10% — the exact confirm join absorbs
    * the extra false positives) is a driver/scheduler chokepoint. The
    * expression tree holds only the broadcast handle
    * ([[graft.functions.BloomMightContainBc]]); DedupSpec asserts no
    * binary literal survives in the analyzed plan.
    *
    * This operator is EAGER (three bounded actions: shingle count, bloom
    * aggregate, contaminated-id materialization): the contaminated-id
    * frame — ids only, tiny by the operator's own premise — is
    * localCheckpoint'ed so the eval-shingle cache and the broadcast can
    * be released HERE instead of leaking until someone calls
    * `spark.catalog.clearCache()`. The returned plan is a bare anti-join
    * against the materialized id set. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, ngram: Int = 3,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp out of range: $fpp")
    // three consumers (size count, bloom aggregate, exact confirm join)
    // must not re-run the explode+distinct shuffle over what is by
    // definition the LARGE input — persist it once
    val evalShingles = evalSet
      .select(explode(
        graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram)).as("hv"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = corpus.sparkSession.sparkContext
    var bloomBc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter] = null
    try {
      val nEval = math.max(1L, evalShingles.count())
      bloomBc = sc.broadcast(evalShingles.stat.bloomFilter("hv", nEval, fpp))
      val contaminated = corpus
        .select(col(idCol).as("__doc"),
          explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram)).as("hv"))
        .where(graft.functions.BloomMightContainBc.mightContain(bloomBc, col("hv")))
        .join(evalShingles, Seq("hv"), "left_semi") // exact confirm: kills fps
        .select(col("__doc")).distinct()
        // materialize so the cache/broadcast can release here — EAGER by
        // contract: the finally below unpersists evalShingles and the
        // bloom broadcast, both of which this plan reads. A LOCAL
        // checkpoint: executor blocks — lost executors make the
        // returned frame unrecoverable.
        .localCheckpoint(true)
      corpus.join(contaminated,
        corpus(idCol) === contaminated("__doc"), "left_anti")
    } finally {
      evalShingles.unpersist(blocking = false)
      // executors hold the checkpointed id blocks now; drop their filter
      // copies (non-blocking; the driver copy stays for any re-broadcast)
      if (bloomBc != null) bloomBc.unpersist(blocking = false)
    }
  }

  /** The dedup endgame: near-dup PAIRS resolved into CLUSTERS, so one
    * canonical doc survives per connected component of the similarity
    * graph (pairwise keep-min would under-delete: a~b, b~c must collapse
    * a,b,c together even when a~c was never emitted as a pair).
    *
    * Iterative min-label propagation: every round each doc takes the min
    * of its own label and its neighbors' — rounds needed = graph diameter,
    * and near-dup clusters are shallow (2-4 hops). Each round is ONE
    * shuffle join + aggregate; the driver sees only an 8-byte convergence
    * checksum (labels are monotonically nonincreasing, so an unchanged
    * sum IS the fixpoint — no data ever collects). `localCheckpoint`
    * truncates the growing lineage per round (executor blocks: an
    * executor lost mid-iteration fails the job). For
    * adversarially deep graphs, alternate large-star/small-star rounds
    * bound iterations at O(log n); near-dup graphs don't need it.
    *
    * @return (doc, component) for EVERY doc in `docs`; component = min
    *         doc id reachable, singletons map to themselves. */
  def components(docs: DataFrame, idCol: String, pairs: DataFrame,
                 maxIters: Int = 25): DataFrame = {
    val edges = directedEdges(pairs)
    val (labels, converged, iters) = propagateBounded(edges, maxIters)
    // silent non-convergence would hand back WRONG cluster labels — an
    // adversarially deep chain must fail loudly, not under-merge quietly
    if (!converged) throw new ComponentsNoFixpointException(
      s"components: no fixpoint after $iters iterations (${2 * iters} " +
        "propagation hops) — raise maxIters for graphs this deep")
    joinLabels(docs, idCol, labels)
  }

  // Lineage cuts are local checkpoints (executor blocks). The
  // convergence loops ([[propagateBounded]], [[starContract]] and the
  // frames that seed them) cut LAZILY (r18): each loop runs a driver
  // checksum/count action right after every checkpoint, so the lazy
  // flavor caches DURING that action instead of paying a separate
  // materialization job per round — the convergence decision and the
  // checkpoint share one job (2 driver jobs/round → 1). Callers that
  // RELEASE persisted inputs or broadcasts right after checkpointing
  // ([[decontaminateBloom]], [[overlapMatrix]]) cut EAGERLY: a lazy
  // checkpoint would materialize only at the caller's later action,
  // after the inputs it depends on are gone (ADVICE r18).

  /** Both-orientation edge frame, hash-partitioned on src ONCE before the
    * checkpoint (LogicalRDD keeps the partitioning) so each propagation
    * round's join only shuffles the (small, changing) label frame. */
  private def directedEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(col("d1").cast("long").as("src"), col("d2").cast("long").as("dst"))
      .unionByName(pairs
        .select(col("d2").cast("long").as("src"), col("d1").cast("long").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(false)

  /** Bounded min-label propagation over the ACTIVE subgraph (a node with
    * no edges can never change its label, so the loop touches
    * |edge endpoints| rows, not |corpus| rows; singletons rejoin in
    * [[joinLabels]]).
    *
    * @return (labels (doc, comp) — every edge endpoint, comp = min id
    *         reached so far; whether a fixpoint was reached; iterations
    *         run). Non-converged labels are still a VALID PARTIAL
    *         CONTRACTION — same-label nodes are definitely connected —
    *         which is what lets [[componentsAuto]] seed the star phase
    *         with them instead of discarding the probe's work. */
  private def propagateBounded(edges: DataFrame,
                               maxIters: Int): (DataFrame, Boolean, Int) = {
    var labels = edges.select(col("src").as("doc")).distinct()
      .select(col("doc"), col("doc").as("comp")).localCheckpoint(false)
    // labels are monotonically nonincreasing, so an unchanged sum IS the
    // fixpoint; coalesce covers the no-edges case (sum over empty = null).
    // The sum runs in decimal: 63-bit ids × many rows overflow a bigint
    // sum, which ANSI mode (Spark 4 default) turns into a runtime error.
    def checksum(ls: DataFrame): java.math.BigDecimal =
      ls.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = checksum(labels)
    var iter = 0
    var converged = false
    // shuffle_hash on the node-sized side of both joins: unhinted, AQE
    // broadcasts the small label frames and every round runs one more
    // job at no gain in time. sf0.1 A/B (4 cores, 3 runs a side; this
    // and [[starContract]]'s two hints together): traced build_jobs q56
    // 25 hinted vs 32 unhinted, q89 25 vs 31, q143 44 vs 51; warm median
    // q56 3.37 vs 3.40 s, q89 3.42 vs 3.33 s.
    def propagate(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.select(col("doc").as("src"), col("comp"))
          .hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst")).agg(min(col("comp")).as("ncomp"))
        .select(col("dst").as("doc"), col("ncomp"))
      ls.join(neighborMin.hint("shuffle_hash"), Seq("doc"), "left")
        .select(col("doc"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
    }
    while (!converged && iter < maxIters) {
      // two hops per materialization: each eager checkpoint + checksum is
      // a driver round trip, and those dominate once the frames are small
      labels = propagate(propagate(labels)).localCheckpoint(false)
      val s = checksum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    (labels, converged, iter)
  }

  /** Rejoin the full doc set: labeled (edge-involved) docs take their
    * label, singletons map to themselves. */
  private def joinLabels(docs: DataFrame, idCol: String,
                         labels: DataFrame): DataFrame =
    docs.select(col(idCol).cast("long").as("doc"))
      .join(labels, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("comp"), col("doc")).as("component"))

  /** Connected components by alternating large-star / small-star
    * contraction — the O(log n)-round algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) for graphs
    * where [[components]]' min-label propagation (rounds = diameter)
    * would not converge: adversarially deep similarity chains, transitive
    * link graphs. Same output contract as [[components]].
    *
    * Each half-round is one aggregate (per-node min over the incident
    * edges) joined back onto the edges — no per-node neighbor
    * materialization, so a hot node (huge cluster) never builds an
    * in-memory adjacency list; skew lands in the join, where AQE can
    * split it.
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    its overall min neighbor (or itself) — long chains halve;
    *  - small-star: every node's smaller-or-equal neighbors re-attach to
    *    its min — stars flatten to depth one.
    *
    * Fixpoint = the edge multiset is a stable set of (child, root) links;
    * detected via an order-insensitive xor-of-hashes checksum (one 8-byte
    * driver value per round, like [[components]]). */
  def componentsStar(docs: DataFrame, idCol: String, pairs: DataFrame,
                     maxIters: Int = 35): DataFrame = {
    // canonical undirected edge set, self-loops dropped
    val edges = pairs
      .select(col("d1").cast("long").as("u"), col("d2").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(false)
    val links = starContract(edges, maxIters)
    // fixpoint edges are (child, root) with root = component min
    docs.select(col(idCol).cast("long").as("doc"))
      .join(links.select(col("u").as("doc"), col("v").as("component")),
        Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("component"), col("doc")).as("component"))
  }

  /** The large-star/small-star loop over a canonical (u > v) edge set;
    * returns the fixpoint (child, root) link set. Factored out so
    * [[componentsAuto]] can run it on a probe-contracted graph. */
  private def starContract(edges0: DataFrame, maxIters: Int): DataFrame = {
    var edges = edges0
    // order-insensitive edge-set fingerprint: xor of per-edge hashes —
    // stable across partitionings, and a stable set IS the fixpoint
    // (both stars are deterministic functions of the edge set)
    // bit_xor, not sum: ANSI mode (on by default in Spark 4) makes a
    // bigint sum of 64-bit hashes throw on the inevitable overflow
    def checksum(e: DataFrame): Long = {
      val h = e.agg(expr("coalesce(bit_xor(xxhash64(u, v)), 0)"),
        count(lit(1))).head()
      h.getLong(0) ^ h.getLong(1)
    }
    def largeStar(e: DataFrame): DataFrame = {
      // both orientations; m(u) = min over N(u) ∪ {u}
      val dir = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = dir.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // shuffle_hash: sf0.1 A/B beside [[propagateBounded]]'s hints;
      // q79 traced build_jobs 26 hinted vs 28 unhinted
      dir.join(m.hint("shuffle_hash"), Seq("u"))
        .where(col("v") > col("u"))                 // strictly larger re-attach
        .select(col("v").as("u"), col("m").as("v")) // new edge (v, m), v > m
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge toward the larger endpoint: u > v always holds
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val re = e.join(m.hint("shuffle_hash"), Seq("u")) // as largeStar
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // smaller sibs -> min
      val self = m.select(col("u"), col("m").as("v")) // u stays on its min
      re.unionByName(self)
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    }
    var prev = checksum(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      edges = smallStar(largeStar(edges)).localCheckpoint(false)
      val s = checksum(edges)
      converged = s == prev
      prev = s
      iter += 1
    }
    if (!converged) throw new ComponentsNoFixpointException(
      s"componentsStar: no fixpoint after $maxIters rounds — " +
        "pathological input or maxIters too small for |V|")
    edges
  }

  /** Router between [[components]] and [[componentsStar]]: graph diameter
    * — the quantity that decides which algorithm terminates cheaply — is
    * unknowable without traversing the graph, so the chooser IS a bounded
    * traversal: run min-label propagation for at most `propIters`
    * iterations (2·propIters hops — near-dup similarity graphs are 2–4
    * hops deep and converge well inside the default), and if the graph
    * turns out deeper, fall back to the O(log n)-round star contraction.
    *
    * Cost bound of a wrong first guess: `propIters` label-prop rounds
    * (each one join + one aggregate over the ACTIVE subgraph) — and the
    * probe's work is NOT discarded on fallback: its partial labels are a
    * valid partial contraction (same-label ⇒ connected), so the star
    * phase runs on the label-contracted graph — long chains arrive
    * pre-shortened by 2·propIters hops and every already-converged
    * cluster collapses to one node before star pays a single round.
    * Callers that KNOW their graph is adversarially deep (transitive
    * link graphs) should call [[componentsStar]] directly and skip the
    * probe. */
  def componentsAuto(docs: DataFrame, idCol: String, pairs: DataFrame,
                     propIters: Int = 8, starIters: Int = 35): DataFrame = {
    val edges = directedEdges(pairs)
    val (labels, converged, _) = propagateBounded(edges, propIters)
    if (converged) joinLabels(docs, idCol, labels)
    else {
      // Seed star with the probe's contraction: edge (u,v) becomes
      // (lab(u), lab(v)). Labels are node ids reachable from their
      // owners, so contraction preserves components exactly, and the
      // global min id m keeps lab(m) = m — star's roots are the true
      // component minima, no relabeling needed on the way back out.
      val contracted = edges
        .join(labels.select(col("doc").as("src"), col("comp").as("__cs")),
          Seq("src"))
        .join(labels.select(col("doc").as("dst"), col("comp").as("__cd")),
          Seq("dst"))
        .where(col("__cs") =!= col("__cd"))
        .select(greatest(col("__cs"), col("__cd")).as("u"),
          least(col("__cs"), col("__cd")).as("v"))
        .distinct()
        .localCheckpoint(false)
      val roots = starContract(contracted, starIters)
      // doc → partial label → star root of that label (labels whose
      // cluster was already fully contracted stay their own root)
      docs.select(col(idCol).cast("long").as("doc"))
        .join(labels, Seq("doc"), "left")
        .select(col("doc"), coalesce(col("comp"), col("doc")).as("__lab"))
        .join(roots.select(col("u").as("__lab"), col("v").as("__root")),
          Seq("__lab"), "left")
        .select(col("doc"),
          coalesce(col("__root"), col("__lab")).as("component"))
    }
  }

  /** Cross-corpus contamination matrix: for every unordered pair of
    * document groups (sources, snapshots, pipeline stages), the number
    * of distinct n-gram shingles both contain plus the shingle-set
    * Jaccard — the "is corpus B leaking into corpus A" diagnostic a mix
    * runs BEFORE training on it. Pairs sharing nothing are absent (the
    * matrix is sparse by construction).
    *
    * Scale shape: one (group, 32-bit shingle hash) DISTINCT over the
    * corpus — text shuffles never, hashes once — then a self-join on
    * the hash whose fan-out per hash is bounded by |groups| (each hash
    * appears at most once per group after the distinct), so candidate
    * volume is ≤ |groups|² per distinct shingle, NOT corpus-quadratic.
    * Per-group sizes ride the same persisted frame. EAGER: the result
    * (≤ |groups|² rows) materializes here so the persisted shingle
    * frame releases at call time instead of leaking until clearCache.
    * Null-group docs are excluded (no group to attribute leakage to).
    *
    * `eager = false` returns the LAZY plan instead (no persist, no
    * checkpoint) — for plan inspection or composition into a larger
    * eval; the shingle frame then recomputes per consumer unless the
    * caller persists it. The eager result is a local checkpoint (same
    * contract as [[components]] — local blocks die with their
    * executor). */
  def overlapMatrix(docs: DataFrame, groupCol: String, textCol: String,
                    ngram: Int = 3, eager: Boolean = true): DataFrame = {
    require(ngram >= 1, s"ngram must be >= 1: $ngram")
    val base = docs
      .where(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), ngram))
          .as("hv"))
      .distinct()
    val grouped = if (eager)
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else base
    try {
      val sizes = grouped.groupBy(col("grp")).agg(count(lit(1)).as("n"))
      val inter = grouped.select(col("grp").as("grp_a"), col("hv"))
        .join(grouped.select(col("grp").as("grp_b"), col("hv")), Seq("hv"))
        .where(col("grp_a") < col("grp_b"))
        .groupBy(col("grp_a"), col("grp_b")).agg(count(lit(1)).as("shared"))
      val out = inter
        .join(sizes.select(col("grp").as("grp_a"), col("n").as("n_a")), Seq("grp_a"))
        .join(sizes.select(col("grp").as("grp_b"), col("n").as("n_b")), Seq("grp_b"))
        .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"), col("shared"),
          round(col("shared").cast("double") /
            (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      // EAGER checkpoint: the plan reads `grouped`, which the finally
      // below unpersists — materialize the |groups|² rows here so the
      // shingle cache really is free to go (ADVICE r18)
      if (eager) out.localCheckpoint(true)
      else out
    } finally if (eager) grouped.unpersist(blocking = false)
  }

  /** Connected components over an EQUALITY-COLLAPSED node set — the
    * generic form of [[nearDupKeepBest]]'s exact-duplicate pre-collapse,
    * for any clustering whose edge set is derived from a per-node key
    * such that EQUAL (non-null) KEYS IMPLY AN EDGE (identical dHash ⇒
    * Hamming 0, equal shingle sets ⇒ Jaccard 1, equal fingerprints ⇒
    * exact dup). Under that contract, collapsing each key-equality
    * class to its min-id leader, running pair generation + components
    * over LEADERS only, and expanding labels through the class is
    * provably identical to components over the full graph (a
    * component's min member is its own class leader) — while the
    * quadratic pair listing inside each class (C(m,2) pairs for m
    * identical items; real crawls carry million-member identical-logo
    * classes) disappears entirely.
    *
    * `pairsOf` receives the leader subset of `nodes` (all columns
    * intact) and must return the pair set among those leaders as
    * (d1, d2). NULL keys never collapse AND never pair (the decline
    * contract of every hash producer here); null-key nodes come back
    * as their own singleton components. Output: (doc, component) for
    * every input node. */
  def componentsCollapsedByKey(nodes: DataFrame, idCol: String,
                               keyCol: String,
                               pairsOf: DataFrame => DataFrame): DataFrame = {
    val base = nodes.select(col(idCol).cast("long").as("doc"),
      col(keyCol).as("__k"))
    val keyed = base.where(col("__k").isNotNull)
    val leaders = keyed.groupBy(col("__k")).agg(min(col("doc")).as("__leader"))
    val docLeader = keyed.join(leaders, Seq("__k"))
      .select(col("doc"), col("__leader")).localCheckpoint()
    val leaderNodes = nodes.join(
      docLeader.where(col("doc") === col("__leader"))
        .select(col("doc").as("__ln")),
      col(idCol).cast("long") === col("__ln")).drop("__ln")
    val pairs = pairsOf(leaderNodes).select(col("d1"), col("d2"))
    val labels = componentsAuto(leaderNodes.select(col(idCol)), idCol, pairs)
    base.select(col("doc"))
      .join(docLeader, Seq("doc"), "left")
      .join(labels.select(col("doc").as("__leader"),
        col("component").as("__c")),
        Seq("__leader"), "left")
      .select(col("doc"), coalesce(col("__c"), col("doc")).as("component"))
  }

  /** The production near-dup dedup pipeline in one call — pairs →
    * clusters → one representative per cluster: MinHash-LSH candidates
    * verified by true Jaccard ([[minhashDuplicates]], candidate-first),
    * resolved into connected components ([[componentsAuto]], bounded
    * rounds), then per component the member with the highest
    * `qualityCol` (ties → smallest id) survives — exactKeepBest's rule
    * ([[exactKeepBest]]) lifted from byte-identical to near-duplicate
    * clusters. Every doc is labeled (non-duplicates are their own
    * singleton component), so the output is exactly one row per
    * cluster: (component, rep, n_members).
    *
    * Scale shape: inherits each stage's audited shape — no new
    * exchanges beyond one component-keyed window for the
    * representative pick (rank + size share the same partitioning, one
    * shuffle). Text never flows past the posting stage; the window
    * carries (id, component, quality) only.
    *
    * Exact-duplicate PRE-COLLAPSE (round-12): equal shingle SETS are
    * Jaccard-1 near-dups at every threshold ≤ 1, so only one LEADER
    * (min id) per set-equality class enters the quadratic candidate
    * machinery; every member inherits its leader's component, which is
    * provably the label the uncollapsed pipeline assigns (a component's
    * min member is its own leader). Real crawls are exact-dup heavy
    * (mirrors, reposts, templated pages): without the collapse a group
    * of m byte-identical docs costs C(m,2) candidate-verify pairs —
    * measured 80.7 s → 8.5 s on a 75%-duplicate sf0.1 corpus,
    * identical output. The collapse itself is narrow: one
    * hash-aggregate fingerprint (md5 of the sorted hv set) over the
    * already-materialized postings and two long-only joins — raw text
    * is never shuffled. Docs with no shingles (NULL/short text) never
    * reach the posting table and stay their own singleton components,
    * exactly as before. */
  def nearDupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                      qualityCol: String, threshold: Double,
                      bands: Int = 4, ngram: Int = 3): DataFrame = {
    val tok = postings(docs, idCol, textCol, ngram).localCheckpoint()
    val fp = tok.groupBy(col("doc"))
      .agg(md5(sort_array(collect_set(col("hv"))).cast("string")).as("__fp"))
    val leaders = fp.groupBy(col("__fp")).agg(min(col("doc")).as("__leader"))
    val docLeader = fp.join(leaders, Seq("__fp"))
      .select(col("doc"), col("__leader")).localCheckpoint()
    val leadTok = tok.join(
      docLeader.where(col("doc") === col("__leader")).select(col("doc")),
      Seq("doc"))
    // signatures are k longs per leader — the ONE thing worth
    // materializing up front: the routing probe, the leader node set,
    // and candidate generation on either route all read them
    val sig = signaturesOf(leadTok).localCheckpoint()
    val nLeaders = sig.count()
    val leaderNodes = sig.select(col("doc"))
    // route by candidate MASS, estimated from band-bucket sizes
    // (Σ C(m,2) per bucket — one cheap aggregate over the checkpointed
    // signatures, never building a pair row): sparse graphs verify in
    // one lazy plan exactly as before; a candidate-dense graph
    // (near-dup CLIQUE: C(k,2) candidates for k mutually-similar
    // leaders) takes the adaptive rounds, which label the same
    // components after O(k log k) verifications instead of C(k,2) —
    // measured 146.9 s -> 25.2 s on the sf1.0 shared-boilerplate
    // fixture, and the 10x-bigger clique costs only 3x the 1x-clique
    // time (SCALE.md round 12)
    val labels =
      if (candidateMass(sig, bands) <=
          AdaptiveVerifyRatio.toDouble * math.max(nLeaders, 1L))
        componentsAuto(leaderNodes, "doc",
          verifyJaccard(leadTok,
            leadTok.groupBy(col("doc")).agg(count(lit(1)).as("n")),
            candidatesOf(sig, bands), threshold)
            .select(col("d1"), col("d2")))
      else {
        val ltk = leadTok.localCheckpoint()
        val szL = ltk.groupBy(col("doc")).agg(count(lit(1)).as("n"))
          .localCheckpoint()
        componentsByAdaptiveVerify(leaderNodes, ltk, szL,
          candidatesOf(sig, bands).localCheckpoint(), threshold)
      }
    val labeled = docs
      .select(col(idCol).cast("long").as("doc"), col(qualityCol))
      .join(docLeader, Seq("doc"), "left")
      .join(labels.select(col("doc").as("__leader"),
        col("component").as("__comp")),
        Seq("__leader"), "left")
      .select(col("doc"), col(qualityCol),
        coalesce(col("__comp"), col("doc")).as("component"))
    val byComp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
    labeled
      .withColumn("__rn", row_number().over(
        byComp.orderBy(col(qualityCol).desc, col("doc"))))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .where(col("__rn") === 1)
      .select(col("component"), col("doc").as("rep"), col("n_members"))
  }

  /** Per-group duplication report: exact-duplicate rate per source /
    * host / shard — which ingest stream is paying for copies. Uses the
    * [[exactKeepBest]] fingerprint (md5 of the whitespace-collapsed
    * lowercased text), counts docs vs distinct fingerprints per group.
    * dup_rate = 1 − distinct/docs; a boilerplate-mirroring source
    * jumps out before any near-dup pass spends compute on it.
    *
    * One (group, fp)-keyed map-side aggregate, one per-group rollup —
    * text never shuffles (only 32-char fingerprints).
    *
    * @return (grp, n_docs, n_distinct, dup_rate). */
  def dupRateByGroup(docs: DataFrame, idCol: String, textCol: String,
                     groupCol: String): DataFrame =
    docs
      .select(col(groupCol).as("grp"),
        md5(lower(regexp_replace(trim(col(textCol)), "\\s+", " ")))
          .as("__fp"))
      .groupBy(col("grp"), col("__fp"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("grp"))
      .agg(sum(col("__n")).as("n_docs"), count(lit(1)).as("n_distinct"))
      .withColumn("dup_rate",
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 6))

  /** Golden-record survivorship: collapse each duplicate cluster to ONE
    * record whose attributes are field-wise MODAL values (most frequent
    * non-null wins, ties to the smallest value — deterministic, the
    * classic merge/purge consolidation step after [[exactKeepBest]]-
    * style clustering picks which ROWS belong together but not which
    * FIELD VALUES to keep when members disagree).
    *
    * The mode is computed without max_by (whose ties are
    * nondeterministic in a distributed agg): per (cluster, value)
    * counts → per-cluster max count → filter to arg-max ties →
    * min(value) — [[LinkGraph.labelPropagation]]'s vote discipline,
    * once per attribute. Null values never vote (a field nobody filled
    * stays null only when nobody voted).
    *
    * Scale shape: per attribute one (cluster, value)-keyed map-side
    * count + two tiny aggregates over it; the membership aggregate
    * (rep id, member count) is one more. All shuffles keyed; the
    * attribute loop is over the SCHEMA, not the data.
    *
    * @return (cluster, rep_id, n_members, attrs...) — rep_id is the
    *         smallest member id. */
  def goldenRecord(df: DataFrame, idCol: String, clusterCol: String,
                   attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty && attrs.size <= 32,
      s"goldenRecord: need 1..32 attrs, got ${attrs.size}")
    require(attrs.distinct.size == attrs.size, "goldenRecord: dup attrs")
    val base = df.select(
      (col(clusterCol).as("cluster") +: col(idCol).as("__id") +:
        attrs.map(col)): _*)
      .where(col("cluster").isNotNull)
      .localCheckpoint()
    val members = base.groupBy(col("cluster"))
      .agg(min(col("__id")).as("rep_id"), count(lit(1)).as("n_members"))
    attrs.foldLeft(members) { (acc, a) =>
      // one argmax-min aggregate per attribute: min(struct(−count,
      // value)) is the same total order (most frequent value, ties to
      // smallest) as the former per-cluster max + join-back + min —
      // minus a join and a recompute of the vote table (the LPA
      // struct-min collapse, measured 1.42× there — SCALE.md round 14)
      val winner = base.where(col(a).isNotNull)
        .groupBy(col("cluster"), col(a))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("cluster"))
        .agg(min(struct((-col("__c")).as("nc"), col(a).as("v"))).as("__b"))
        .select(col("cluster"), col("__b").getField("v").as(a))
      acc.join(winner, Seq("cluster"), "left")
    }
  }

  /** Sorted-neighborhood candidate generation + exact Jaccard verify
    * (Hernández & Stolfo, "The merge/purge problem for large
    * databases", SIGMOD 1995 — public literature): an entity-resolution
    * blocking strategy ORTHOGONAL to LSH — near-dups whose normalized
    * text STARTS alike land adjacent in sort order even when their
    * shingle bands were unlucky. Rows sort by the whitespace-collapsed
    * lowercased text inside blocks (first `blockLen` key chars); each
    * row pairs with its next `windowW` neighbors; candidates verify by
    * exact shingle-set Jaccard (the [[jaccardPairs]] contract).
    *
    * Scale shape: the sort is a per-BLOCK window (hash-partitioned on
    * the block prefix — never a global single-partition sort; a
    * boilerplate-heavy block is the documented skew knob, widened by a
    * longer `blockLen`). Neighbor pairing is an EQUI-join on
    * (block, rn+j) — the window offsets explode `windowW` rows per
    * doc, so candidates are ≤ windowW·n, linear by construction.
    * Verification is candidate-first: postings join down the bounded
    * candidate set, never all intersecting pairs.
    *
    * @return (d1, d2, jaccard) — id-canonical pairs ≥ threshold. */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, blockLen: Int, windowW: Int, threshold: Double,
      ngram: Int = 3): DataFrame = {
    require(blockLen >= 1 && blockLen <= 64,
      s"sortedNeighborhoodPairs: blockLen must be in [1, 64]: $blockLen")
    require(windowW >= 1 && windowW <= 64,
      s"sortedNeighborhoodPairs: windowW must be in [1, 64]: $windowW")
    require(threshold > 0.0 && threshold <= 1.0,
      s"sortedNeighborhoodPairs: threshold in (0, 1]: $threshold")
    val key = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val rk = docs
      .select(col(idCol).as("doc"), key.as("__key"))
      .withColumn("__blk", substring(col("__key"), 1, blockLen))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__blk")).orderBy(col("__key"), col("doc"))))
      .select(col("doc"), col("__blk"), col("__rn"))
      .localCheckpoint()
    val probe = rk.withColumn("__j",
        explode(array((1 to windowW).map(lit): _*)))
      .select(col("doc").as("__da"), col("__blk"),
        (col("__rn") + col("__j")).as("__rn"))
    val cand = probe.join(rk, Seq("__blk", "__rn"))
      .select(least(col("__da"), col("doc")).as("d1"),
        greatest(col("__da"), col("doc")).as("d2"))
      .localCheckpoint()
    val tok = postings(docs, idCol, textCol, ngram).localCheckpoint()
    val sz = tok.groupBy(col("doc")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(tok.select(col("doc").as("d1"), col("hv")), Seq("d1"))
      .join(tok.select(col("doc").as("d2"), col("hv")), Seq("d2", "hv"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    joinSizes(inter, sz, threshold)
  }
}
