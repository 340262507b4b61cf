package graft.operators

import graft.functions.VectorNative
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SEMANTIC dedup store — [[SemDeDup]]'s cluster-confined
  * cosine dominance turned into the fourth lifecycle artifact family
  * (after the MinHash signature store, the IVF index, and the BM25
  * stats): a growing corpus of embeddings is deduped semantically one
  * delta batch at a time against everything previously ingested,
  * with the same verbs (save / ingest / purge / compact / vacuum),
  * the same reader-isolation manifest ([[StoreSwap]] — copy-on-write
  * mutations, ONE flip per verb, CAS-committed), and the same
  * snapshot-read surface (`asOfVersion`) as the other three.
  *
  * The store holds EVERY ingested example — kept and dropped alike —
  * and keep/drop is always DERIVED from current membership, never
  * persisted: an example is kept iff no EARLIER example in its cell is
  * `tau`-similar, where the arrival order is the lexicographic
  * (seq, csim, id) — `seq` is the batch's commit version (save = the
  * first, every ingest the next), and within a batch the order is
  * [[SemDeDup]]'s own (centroid-cosine asc, id asc). Dominance counts
  * dropped examples as dominators too, exactly as [[SemDeDup.dedup]]'s
  * order-free anti-join does — so the derive is ONE anti-join, and a
  * PURGE (which removes examples from membership) automatically
  * re-admits anything only its purged dominators suppressed. Storing
  * the dropped examples is what buys that: a kept-only store could
  * never answer "who becomes kept once this takedown lands".
  *
  * Centroids are fixed at save time (the IVF contract: mutating cells
  * invalidates every stored assignment); csim and the cell are
  * computed ONCE per example, at ingest, and persisted — reads never
  * re-touch raw vectors. There is deliberately NO retrain/rebuild
  * verb (the one verb [[IvfIndex]] has that this family does not):
  * csim is part of the ARRIVAL ORDER, so retraining centroids would
  * rewrite history — verdicts already acted on (docs dropped from a
  * training set, takedowns justified by a dominator) would silently
  * flip. A store whose geometry went stale is replaced by building a
  * NEW store at a new path from the surviving corpus, an explicit
  * migration, not an in-place mutation.
  *
  * Layout under `path`:
  *  - `centroids/`: (cell, centroid) — k tiny rows, L2-NORMALIZED;
  *  - `vectors/`: (doc, nv, csim, seq) partitioned by `cell` — the
  *    example store; nv is the normalized vector (all similarity is
  *    dot-on-normalized);
  *  - `idmap/`: (doc, cell, seq) partitioned by the id-derived bucket
  *    `pb` — the PURGE/SEEN AUTHORITY: membership and cell routing
  *    from ids alone, no scan of `vectors/`.
  *
  * Scale shape (100 TB corpus): the quadratic compare is confined to
  * cells (the paper's k ≈ corpus/10⁴ sizing; the same loud
  * [[SemDeDup.DefaultMaxCellPairs]] mass guard refuses a skewed
  * model), every per-batch read is partition-pruned — the seen-probe
  * to the batch ids' pb buckets, the compare to the batch's TOUCHED
  * cells — and purge routes from `idmap/` without touching
  * unaffected cell partitions. Bytes read per ingest scale with the
  * delta and its touched cells, not the store. */
object SemanticStore {

  /** Id-bucket count for `idmap/` — the same delete-path routing as
    * [[Dedup.NStoreBuckets]]. */
  val NIdBuckets: Int = 64

  private def idBucket(doc: Column, n: Int): Column =
    StoreSwap.idBucket(doc, n)

  private def requireStore(fs: org.apache.hadoop.fs.FileSystem,
                           path: String, verb: String): (Int, Seq[String]) =
    StoreSwap.latestManifest(fs, path)
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: $path is not a SemanticStore layout (no store manifest)"))

  /** True iff `path` holds a committed semantic store. */
  def ready(spark: SparkSession, path: String): Boolean =
    StoreSwap.latestManifest(StoreSwap.fsOf(spark, path), path).nonEmpty

  // layout (shared [[StoreSwap]] plumbing): pb count persisted
  // VERSIONED at save, resolved at the manifest version being read —
  // a pinned snapshot routes with the counts its data was written
  // with, even if a later save at this path chose different buckets
  private def layoutPbN(fs: org.apache.hadoop.fs.FileSystem,
                        path: String, asOf: Int): Int =
    StoreSwap.readLayoutAt(fs, path, asOf)("pb")

  private def pruneParts(df: DataFrame, partCol: String,
                         touched: Seq[Long], total: Int): DataFrame =
    StoreSwap.prunePartitions(df, partCol, touched, total)

  /** Normalized assignment of an embedding frame against normalized
    * centroids: (doc, nv, cell, csim) — [[SemDeDup.dedup]]'s slim
    * frame with stable names. csim rides a when-chain on the
    * already-computed cell (one dot per row, not k — the argmin paid
    * the k-dot scan), the same bounded-literal-centroids envelope as
    * SemDeDup itself. */
  private def assignSlim(emb: DataFrame, idCol: String, vecCol: String,
                         cents: Seq[Array[Double]]): DataFrame = {
    val nv = VectorNative.l2Normalize(col(vecCol).cast("array<double>"))
    val csim: Column = cents.zipWithIndex.tail
      .foldLeft(when(col("cell") === 0,
        VectorNative.dotProduct(col("nv"), typedlit(cents.head.toSeq)))) {
        case (acc, (c, i)) => acc.when(col("cell") === i,
          VectorNative.dotProduct(col("nv"), typedlit(c.toSeq)))
      }
    emb.select(col(idCol).as("doc"), nv.as("nv"),
        VectorNative.nearestCentroid(nv, cents).as("cell"))
      .withColumn("csim", csim)
  }

  private def normalizedCentroids(model: IvfIndex.Model): Seq[Array[Double]] =
    model.centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      require(n > 0.0, "SemanticStore: zero-vector centroid")
      c.map(_ / n)
    }.toSeq

  /** Create the store from a bootstrap corpus: centroids persisted
    * normalized, every example assigned once (seq = the committing
    * version), the manifest flip is the single commit point (a torn
    * save reads as no store — [[ready]] — and is simply re-run).
    *
    * STAGED like every other mutation verb — never an overwrite into
    * the live dirs: saving over an existing store continues the
    * version chain with a manifest listing ONLY the new file-set,
    * while every retained older version keeps its complete files
    * (pinned and concurrent readers unbroken; the superseded store is
    * vacuum garbage). The pb count commits as a VERSIONED layout
    * ([[StoreSwap.commitLayout]]), so a pinned read resolves the
    * routing the data it reads was written with even if a later save
    * chose different buckets. */
  def save(emb: DataFrame, idCol: String, vecCol: String, path: String,
           model: IvfIndex.Model, idBuckets: Int = NIdBuckets): Unit = {
    require(idBuckets >= 1, s"SemanticStore.save: idBuckets < 1: $idBuckets")
    val spark = emb.sparkSession
    val fs = StoreSwap.fsOf(spark, path)
    val cents = normalizedCentroids(model)
    val version = StoreSwap.manifestVersions(fs, path).lastOption.getOrElse(0) + 1
    import spark.implicits._
    val tag = s"s${java.util.UUID.randomUUID().toString.take(8)}_"
    def stage(df: DataFrame, dir: String,
              partCol: Option[String]): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "save", tag) { root =>
        partCol match {
          case Some(pc) => df.repartition(col(pc))
            .write.mode("overwrite").partitionBy(pc).parquet(root)
          case None => df.coalesce(1)
            .write.mode("overwrite").parquet(root)
        }
      }
    // one row per id (the family contract); a batch that repeats an id
    // keeps one arbitrary copy rather than corrupting the store. The
    // checkpoint pins that choice: dropDuplicates is per-evaluation
    // nondeterministic, and the two writes below MUST see the same
    // rows or vectors/ and idmap/ could disagree on a doc's cell
    // (an unpurgeable phantom dominator).
    val slim = assignSlim(emb, idCol, vecCol, cents)
      .dropDuplicates("doc").withColumn("seq", lit(version))
      .localCheckpoint()
    val staged =
      stage(cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "centroid"), "centroids", None) ++
      stage(slim, "vectors", Some("cell")) ++
      stage(slim.select(col("doc"), col("cell"), col("seq"),
        idBucket(col("doc"), idBuckets).as("pb")), "idmap", Some("pb"))
    val lc = StoreSwap.commitLayout(fs, path, version,
      Seq("pb" -> idBuckets))
    StoreSwap.commitManifest(fs, path, version, staged,
      layoutCommitted = true, layoutCreated = lc)
  }

  private def readDir(spark: SparkSession, path: String, dir: String,
                      mfFiles: Seq[String]): DataFrame =
    StoreSwap.readStoreDir(spark, path, dir, mfFiles)

  private def loadCentroids(spark: SparkSession, path: String,
                            mfFiles: Seq[String]): Seq[Array[Double]] = {
    val cents = readDir(spark, path, "centroids", mfFiles)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    require(cents.map(_._1).toSeq == cents.indices.toSeq,
      s"SemanticStore: non-contiguous cell ids in $path/centroids")
    cents.map(_._2).toSeq
  }

  // vectors/ read with typed columns (cell is the partition column)
  private def vectorsOf(spark: SparkSession, path: String,
                        mfFiles: Seq[String]): DataFrame =
    readDir(spark, path, "vectors", mfFiles)
      .select(col("doc"), col("nv").cast("array<double>"),
        col("csim").cast("double"), col("seq").cast("int"),
        col("cell").cast("int"))

  private def idmapOf(spark: SparkSession, path: String,
                      mfFiles: Seq[String]): DataFrame =
    readDir(spark, path, "idmap", mfFiles)
      .select(col("doc"), col("cell").cast("int"), col("seq").cast("int"),
        col("pb").cast("long"))

  /** "b dominates a": b is strictly earlier in the (seq, csim, id)
    * arrival order. Cell equality and the `tau` dot ride alongside at
    * the join. */
  private def earlier(aSeq: Column, aCsim: Column, aDoc: Column,
                      bSeq: Column, bCsim: Column, bDoc: Column): Column =
    bSeq < aSeq || (bSeq === aSeq &&
      (bCsim < aCsim || (bCsim === aCsim && bDoc < aDoc)))

  /** Ingest a delta batch: already-seen ids are SKIPPED (idempotent —
    * the seen-probe reads the current manifest, so a torn append
    * re-runs cleanly), fresh examples are assigned once against the
    * STORE's centroids and appended copy-on-write behind ONE flip, and
    * the returned frame is the [[verdictsForIds]] semantics over the
    * batch's ids at the COMMITTED version — a pure function of (store
    * state, id set), so a REPLAYED batch returns the identical
    * verdicts (the exactly-once contract the streaming pair log
    * established; same design, applied here from the start).
    *
    * The verdict derive is INLINED over this call's own checkpointed
    * frames rather than re-probing the store (the round-15 small-batch
    * job floor: a second idmap membership probe, a second pb collect,
    * a second touched-cell store scan, and a second mass aggregate —
    * all derivable from state already in hand). The post-append cell
    * rows are exactly (pre-append touched-cell rows ∪ the fresh
    * assignments), both checkpointed, so the store is scanned ONCE per
    * ingest and the returned frame is PINNED by construction: a purge
    * or compact+vacuum committed between this call's flip and the
    * caller's evaluation cannot change the verdicts (the lazy-read
    * wart the round-15 advisory flagged).
    *
    * Returns (doc, cell, csim, seq, kept): `kept = false` means some
    * earlier-ordered same-cell example is `tau`-similar — semantic
    * duplicate; the caller's policy decides what to do with it, as
    * everywhere in the dedup family. */
  def ingest(batch: DataFrame, idCol: String, vecCol: String, path: String,
             tau: Double,
             maxCellPairs: Long = SemDeDup.DefaultMaxCellPairs): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"SemanticStore.ingest: tau: $tau")
    val spark = batch.sparkSession
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) = requireStore(fs, path, "SemanticStore.ingest")
    val pbN = layoutPbN(fs, path, mfVersion)
    val cents = loadCentroids(spark, path, mfFiles)
    // seen-probe: idmap pruned to the batch ids' own buckets
    val batchIds = batch.select(col(idCol).as("doc")).distinct()
      .localCheckpoint()
    val batchPbs = batchIds.select(idBucket(col("doc"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val seenCells = pruneParts(idmapOf(spark, path, mfFiles), "pb", batchPbs, pbN)
      .join(batchIds, Seq("doc"), "left_semi")
      .select(col("doc"), col("cell")).distinct().localCheckpoint()
    val seen = seenCells.select(col("doc").as("__seen_doc"))
    val fresh =
      batch.join(seen, batch(idCol) === col("__seen_doc"), "left_anti")
    val slim = assignSlim(fresh, idCol, vecCol, cents)
      .dropDuplicates("doc")
      .withColumn("seq", lit(mfVersion + 1)).localCheckpoint()
    // cell-mass guard BEFORE any write, bounding the FULL verdict
    // compare this call commits to — a-side is every batch id in the
    // store after the append (seen ids included: a replayed or
    // re-sending source still gets verdicts for them), b-side the
    // post-append cell. Guarding on fresh ids alone could pass here
    // and then throw at the verdict derive AFTER the manifest flip —
    // a half-observable committed side effect a retry can never get
    // past, since by then every id reads as seen.
    val freshCounts = slim.groupBy(col("cell")).agg(count(lit(1)).as("fn"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val seenCounts = seenCells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val touched = (freshCounts.keySet ++ seenCounts.keySet)
      .map(_.toLong).toSeq.sorted
    if (touched.isEmpty)
      // no member, nothing fresh: empty verdicts, typed from the store
      return emptyVerdicts(spark, path, mfFiles)
    // the ONE store scan of this ingest: pre-append rows of the touched
    // cells, checkpointed — feeds the mass guard AND the verdict derive
    val cellRowsPre = pruneParts(vectorsOf(spark, path, mfFiles), "cell",
      touched, cents.length).localCheckpoint()
    val storeCounts = cellRowsPre.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mass = touched.map { cL =>
      val c = cL.toInt
      val a = freshCounts.getOrElse(c, 0L) + seenCounts.getOrElse(c, 0L)
      val b = storeCounts.getOrElse(c, 0L) + freshCounts.getOrElse(c, 0L)
      a * b
    }.sum
    if (mass > maxCellPairs)
      throw new IllegalArgumentException(
        s"SemanticStore.ingest: batch-vs-cell compare mass $mass " +
          s"ordered pairs exceeds maxCellPairs=$maxCellPairs (nothing " +
          "was written). Train more cells (k ≈ corpus/10⁴), or raise " +
          "maxCellPairs deliberately; splitting the batch helps only " +
          "its fresh portion — seen ids are judged regardless.")
    if (freshCounts.nonEmpty) {
      // append copy-on-write: staged, moved in under batch-unique
      // names, ONE flip
      val tag = s"a${java.util.UUID.randomUUID().toString.take(8)}_"
      // staging root UNIQUE per invocation (the CAS story's write-side
      // prerequisite: two racing writers must never clobber each
      // other's staging — the loser's moved-in files become unlisted
      // garbage, never a torn mix)
      def stage(df: DataFrame, partCol: String, dir: String): Seq[String] =
        StoreSwap.stageAndMoveIn(fs, path, dir, "ingest", tag)(root =>
          df.repartition(col(partCol))
            .write.mode("overwrite").partitionBy(partCol).parquet(root))
      val added = stage(slim, "cell", "vectors") ++
        stage(slim.select(col("doc"), col("cell"), col("seq"),
          idBucket(col("doc"), pbN).as("pb")), "pb", "idmap")
      StoreSwap.commitManifest(fs, path, mfVersion + 1, mfFiles ++ added)
    }
    // inline verdict derive ≡ verdictsForIds at the committed version:
    // post-append touched-cell rows = checkpointed pre-append rows ∪
    // the checkpointed fresh assignments
    val cellRows =
      if (freshCounts.isEmpty) cellRowsPre
      else cellRowsPre.unionAll(slim.select(col("doc"), col("nv"),
        col("csim"), col("seq"), col("cell")))
    deriveVerdicts(cellRows, batchIds, tau)
  }

  /** The (doc, cell, csim, seq, kept) schema with no rows, `doc` typed
    * from the store's persisted column. */
  private def emptyVerdicts(spark: SparkSession, path: String,
                            mfFiles: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc",
          idmapOf(spark, path, mfFiles).schema("doc").dataType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("csim",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("kept",
          org.apache.spark.sql.types.BooleanType))))

  /** Arrival-order dominance verdicts of `cellRows ∩ ids` against all
    * of `cellRows` — the shared tail of [[ingest]] (checkpointed
    * union) and [[verdictsForIds]] (store scan). */
  private def deriveVerdicts(cellRows: DataFrame, idFrame: DataFrame,
                             tau: Double): DataFrame = {
    val aRows = cellRows.join(idFrame, Seq("doc"), "left_semi")
    val b = cellRows.select(col("doc").as("b_doc"), col("nv").as("b_nv"),
      col("csim").as("b_csim"), col("seq").as("b_seq"),
      col("cell").as("b_cell"))
    val dominated = aRows.join(b,
        col("b_cell") === col("cell") &&
          earlier(col("seq"), col("csim"), col("doc"),
            col("b_seq"), col("b_csim"), col("b_doc")) &&
          VectorNative.dotProduct(col("nv"), col("b_nv")) >= lit(tau),
        "left_semi")
      .select(col("doc")).withColumn("kept", lit(false))
    aRows.select(col("doc"), col("cell"), col("csim"), col("seq"))
      .join(dominated, Seq("doc"), "left_outer")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
  }

  /** Keep/drop verdicts for an id set, derived from the store alone:
    * (doc, cell, csim, seq, kept) for every listed id the store holds
    * (ids never ingested, or purged, are absent — membership follows
    * the store authority). `kept = false` iff some earlier-ordered
    * same-cell member is `tau`-similar. Every scan is pruned by the
    * ids: `idmap/` to their pb buckets, `vectors/` to their cells. */
  def verdictsForIds(spark: SparkSession, path: String, ids: DataFrame,
                     idCol: String, tau: Double,
                     asOfVersion: Option[Int] = None,
                     maxCellPairs: Long = SemDeDup.DefaultMaxCellPairs)
  : DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"SemanticStore.verdictsForIds: tau: $tau")
    val fs = StoreSwap.fsOf(spark, path)
    val (mfV, mfFiles) = asOfVersion
      .map(v => StoreSwap.manifestAt(fs, path, v))
      .getOrElse(requireStore(fs, path, "SemanticStore.verdictsForIds"))
    val pbN = layoutPbN(fs, path, mfV)
    val k = loadCentroids(spark, path, mfFiles).length
    val idFrame = ids.select(col(idCol).as("doc")).distinct().localCheckpoint()
    val idPbs = idFrame.select(idBucket(col("doc"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val touched = pruneParts(idmapOf(spark, path, mfFiles), "pb", idPbs, pbN)
      .join(idFrame, Seq("doc"), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0).toLong).sorted.toSeq
    if (touched.isEmpty)
      // typed from the STORE's persisted doc column (not the caller's
      // ids frame): the non-empty path types doc from the store, and a
      // per-batch verdict log must union consistently across batches
      // whether or not any id was a member
      return emptyVerdicts(spark, path, mfFiles)
    val cellRows = pruneParts(vectorsOf(spark, path, mfFiles), "cell",
      touched, k).localCheckpoint()
    // mass guard: Σ per touched cell |ids∩cell| · |cell|
    val aCounts = cellRows.join(idFrame, Seq("doc"), "left_semi")
      .groupBy(col("cell")).agg(count(lit(1)).as("an"))
    val bCounts = cellRows.groupBy(col("cell")).agg(count(lit(1)).as("bn"))
    val mass = aCounts.join(bCounts, Seq("cell"))
      .agg(coalesce(sum(col("an") * col("bn")), lit(0L))).head().getLong(0)
    require(mass <= maxCellPairs,
      s"SemanticStore.verdictsForIds: compare mass $mass exceeds " +
        s"maxCellPairs=$maxCellPairs. Train more cells or split the ids.")
    deriveVerdicts(cellRows, idFrame, tau)
  }

  /** The full surviving set, derived from the store alone — the
    * whole-store analog of [[verdictsForIds]] (one cell-keyed
    * anti-join, [[SemDeDup.dedup]]'s shape over persisted
    * assignments): (doc, cell, csim, seq) of every member no
    * earlier-ordered same-cell member `tau`-dominates. `asOfVersion`
    * pins a snapshot — e.g. the pre-purge survivors after a takedown
    * landed. The same Σ|cell|·(|cell|−1) guard as [[SemDeDup.dedup]]
    * refuses a store whose cells outgrew the quadratic budget. */
  def deriveSurvivors(spark: SparkSession, path: String, tau: Double,
                      asOfVersion: Option[Int] = None,
                      maxCellPairs: Long = SemDeDup.DefaultMaxCellPairs)
  : DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"SemanticStore.deriveSurvivors: tau: $tau")
    val fs = StoreSwap.fsOf(spark, path)
    val (_, mfFiles) = asOfVersion
      .map(v => StoreSwap.manifestAt(fs, path, v))
      .getOrElse(requireStore(fs, path, "SemanticStore.deriveSurvivors"))
    val rows = vectorsOf(spark, path, mfFiles).localCheckpoint()
    val mass = rows.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - lit(1L))), lit(0L)))
      .head().getLong(0)
    require(mass <= maxCellPairs,
      s"SemanticStore.deriveSurvivors: within-cell mass $mass exceeds " +
        s"maxCellPairs=$maxCellPairs. Train more cells (k ≈ corpus/10⁴).")
    val b = rows.select(col("doc").as("b_doc"), col("nv").as("b_nv"),
      col("csim").as("b_csim"), col("seq").as("b_seq"),
      col("cell").as("b_cell"))
    rows.join(b,
        col("b_cell") === col("cell") &&
          earlier(col("seq"), col("csim"), col("doc"),
            col("b_seq"), col("b_csim"), col("b_doc")) &&
          VectorNative.dotProduct(col("nv"), col("b_nv")) >= lit(tau),
        "left_anti")
      .select(col("doc"), col("cell"), col("csim"), col("seq"))
  }

  /** Forget purged ids — the takedown verb. Routing is from the ids
    * alone via `idmap/` (pb-pruned membership probe names the touched
    * pb buckets AND cells); only affected partitions rewrite,
    * copy-on-write behind ONE flip. Because keep/drop is derived, a
    * purge automatically RE-ADMITS examples only the purged docs
    * dominated — no re-scoring pass, the next [[deriveSurvivors]] /
    * [[verdictsForIds]] just sees different membership. Unknown ids
    * are a REAL no-op (no write, no flip). Idempotent: re-running
    * after any crash redoes the purge from the committed manifest.
    *
    * @return number of purged docs that were actually in the store. */
  def purge(spark: SparkSession, path: String, ids: DataFrame,
            idCol: String): Long = {
    import org.apache.hadoop.fs.Path
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) = requireStore(fs, path, "SemanticStore.purge")
    val pbN = layoutPbN(fs, path, mfVersion)
    val k = loadCentroids(spark, path, mfFiles).length
    val purgeKeys = ids.select(col(idCol).cast("string").as("__purge_id"))
      .distinct().localCheckpoint()
    val pbsAll = purgeKeys.select(idBucket(col("__purge_id"), pbN).as("pb"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (pbsAll.isEmpty) return 0L
    // membership probe: which (pb, cell) actually hold a purged doc
    val matched = pruneParts(idmapOf(spark, path, mfFiles), "pb", pbsAll, pbN)
      .join(broadcast(purgeKeys),
        col("doc").cast("string") === col("__purge_id"), "left_semi")
      .groupBy(col("pb"), col("cell")).agg(count(lit(1)).as("n"))
      .collect()
    if (matched.isEmpty) return 0L
    val pbs = matched.map(_.getLong(0)).distinct.sorted.toSeq
    val cellsTouched = matched.map(_.getInt(1).toLong).distinct.sorted.toSeq
    val gone = matched.map(_.getLong(2)).sum
    val tag = s"p${java.util.UUID.randomUUID().toString.take(8)}_"
    def rewrite(dir: String, partCol: String, parts: Seq[Long],
                total: Int): Seq[String] =
      StoreSwap.stageAndMoveIn(fs, path, dir, "purge", tag)(root =>
        pruneParts(readDir(spark, path, dir, mfFiles), partCol, parts, total)
          .join(broadcast(purgeKeys),
            col("doc").cast("string") === col("__purge_id"), "left_anti")
          .repartition(parts.size, col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(root))
    val rewritten = rewrite("vectors", "cell", cellsTouched, k) ++
      rewrite("idmap", "pb", pbs, pbN)
    val dropPrefixes = cellsTouched.map(c => s"vectors/cell=$c/") ++
      pbs.map(p => s"idmap/pb=$p/")
    StoreSwap.commitManifest(fs, path, mfVersion + 1,
      mfFiles.filterNot(f => dropPrefixes.exists(f.startsWith)) ++ rewritten)
    gone
  }

  /** Fold accumulated per-ingest file-sets (one file per touched
    * partition per batch) — maintenance verb, ends with [[vacuum]]
    * (same no-pinned-readers rule as every compaction). */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024,
              keepVersions: Int = 1): Unit = {
    requireStore(StoreSwap.fsOf(spark, path), path, "SemanticStore.compact")
    StoreSwap.compactManifested(spark, path,
      Seq("vectors" -> "cell", "idmap" -> "pb"),
      "SemanticStore.compact", targetBytes)
    vacuum(spark, path, keepVersions)
  }

  /** Drop every file no retained manifest lists — the retention verb
    * ([[Dedup.vacuumMinhashStore]]'s `keepVersions` window applies).
    *
    * @return number of data files deleted. */
  def vacuum(spark: SparkSession, path: String,
             keepVersions: Int = 1, graceMs: Long = 0L): Long = {
    requireStore(StoreSwap.fsOf(spark, path), path, "SemanticStore.vacuum")
    StoreSwap.vacuumManifested(spark, path,
      Seq("centroids", "vectors", "idmap"), "SemanticStore.vacuum",
      keepVersions, graceMs)
  }
}
