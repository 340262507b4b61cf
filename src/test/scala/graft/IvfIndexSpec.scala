package graft

import graft.operators.{IvfIndex, PqIndex, Similarity, StoreSwap}
import org.apache.spark.sql.functions._

/** IVF ANN: index structure, determinism, and recall against the exact
  * brute-force baseline. */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("assignment covers the corpus and is deterministic") {
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    val idx = IvfIndex.assign(emb, "vec_id", "embedding", model)
    assert(idx.count() == emb.count())
    val cells = idx.groupBy("cell").count().collect().map(_.getInt(0)).toSet
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 8))
    val again = IvfIndex.assign(emb, "vec_id", "embedding",
      IvfIndex.train(emb, "vec_id", "embedding", k = 8))
    assert(idx.collect().map(r => (r.getLong(0), r.getInt(2))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
  }

  test("recall@5 vs brute force is high with generous probes") {
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    val idx = IvfIndex.assign(emb, "vec_id", "embedding", model)
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = IvfIndex.search(idx, queries, "vec_id", "embedding", model,
      k = 5, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall") // random near-orthogonal data:
    // neighbors are weakly clustered, so probing half the cells must still
    // recover at least half the true top-5
  }

  test("searchFiltered: exact over the allowed subset at exhausted " +
    "probes, no disallowed neighbor ever surfaces, ranks are " +
    "re-densified (not the unfiltered ranks with holes)") {
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    val idx = IvfIndex.assign(emb, "vec_id", "embedding", model)
    val queries = emb.where(col("vec_id") < 20)
    val allowed = emb.where(col("label") % 3 === 1)
    val allowedIds = allowed.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val got = IvfIndex.searchFiltered(idx, queries, "vec_id", "embedding",
      model, k = 5, nProbe = 8, allowed, "vec_id")
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // filter safety: every surfaced neighbor is allowed
    assert(gotRows.forall(r => allowedIds.contains(r._3)))
    // exactness at exhausted probes: equals brute force over the subset,
    // rank for rank (so ranks are dense within the filtered pool)
    val exact = Similarity.bruteTopK(allowed, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotRows == exact,
      s"missing=${(exact -- gotRows).take(5)} extra=${(gotRows -- exact).take(5)}")
    // selective-filter recall caveat is real: with ONE probed cell some
    // query must lose an allowed true neighbor that lives elsewhere
    // (documents the raise-nProbe remedy rather than hiding it)
    val narrow = IvfIndex.searchFiltered(idx, queries, "vec_id", "embedding",
      model, k = 5, nProbe = 1, allowed, "vec_id")
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(r => (r._1, r._3))
    assert((exactPairs -- narrow).nonEmpty,
      "nProbe=1 filtered search unexpectedly achieved full recall")
  }

  test("saved index: load answers identically to the fresh index, " +
      "centroids round-trip bit-for-bit") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    val idx = IvfIndex.assign(emb, "vec_id", "embedding", model)
    IvfIndex.saveIndex(model, idx, dir.getAbsolutePath)
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    // centroid round trip is EXACT (doubles through parquet, no re-derive)
    assert(loaded.centroids.length == model.centroids.length)
    loaded.centroids.zip(model.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    // postings carry the whole corpus with the same assignment
    assert(postings.count() == emb.count())
    val queries = emb.where(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    val fresh = rows(IvfIndex.search(idx, queries, "vec_id", "embedding",
      model, k = 5, nProbe = 4))
    val saved = rows(IvfIndex.search(postings, queries, "vec_id", "embedding",
      loaded, k = 5, nProbe = 4))
    assert(saved == fresh)
    // the cell partitioning survives the round trip (scan-prunable layout)
    assert(new java.io.File(dir, "postings").listFiles()
      .exists(_.getName.startsWith("cell=")))
  }

  test("appendToIndex: grown index searches the union identically to a " +
      "same-centroid index built in one shot; delta-only assignment") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_append_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    val half = emb.where(col("vec_id") % 2 === 0)
    val delta = emb.where(col("vec_id") % 2 === 1)
    val model = IvfIndex.train(half, "vec_id", "embedding", k = 8)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(half, "vec_id", "embedding", model), dir.getAbsolutePath)
    val returned = IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
      delta, "vec_id", "embedding")
    // returned model is the SAVED one, bit-for-bit
    returned.centroids.zip(model.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    assert(postings.count() == emb.count())
    // grown == one-shot assignment with the same centroids
    val oneShot = IvfIndex.assign(emb, "vec_id", "embedding", model)
    assert(postings.select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      oneShot.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    val queries = emb.where(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    assert(rows(IvfIndex.search(postings, queries, "vec_id", "embedding",
        loaded, k = 5, nProbe = 4)) ==
      rows(IvfIndex.search(oneShot, queries, "vec_id", "embedding",
        model, k = 5, nProbe = 4)))
  }

  test("purgeFromIndex: purged index equals a from-scratch index over " +
      "survivors; untouched cells keep their files; idempotent re-purge " +
      "removes 0; whole-cell purge drops the partition") {
    import org.apache.hadoop.fs.Path
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_purge_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(emb, "vec_id", "embedding", model), dir.getAbsolutePath)
    val fs = new Path(dir.getAbsolutePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def cellFiles(): Map[String, Seq[(String, Long)]] =
      fs.listStatus(new Path(s"${dir.getAbsolutePath}/postings"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map(cd => cd.getPath.getName ->
          fs.listStatus(cd.getPath).filter(_.isFile)
            .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted)
        .toMap
    val filesBefore = cellFiles()
    val purgeIds = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    val nPurged = emb.where(col("vec_id") % 3 === 0).count()
    assert(IvfIndex.purgeFromIndex(spark, dir.getAbsolutePath,
      purgeIds, "vec_id") == nPurged)
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    val survivors = emb.where(col("vec_id") % 3 =!= 0)
    assert(postings.count() == survivors.count())
    // purged index ≡ same-centroid assignment of the survivors
    val oneShot = IvfIndex.assign(survivors, "vec_id", "embedding", model)
    assert(postings.select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      oneShot.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    // search parity, purged ids allowed as query points
    val queries = emb.where(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    assert(rows(IvfIndex.search(postings, queries, "vec_id", "embedding",
        loaded, k = 5, nProbe = 8)) ==
      rows(IvfIndex.search(oneShot, queries, "vec_id", "embedding",
        model, k = 5, nProbe = 8)))
    // cells without a purged id were not rewritten (same files, mtimes)
    val filesAfter = cellFiles()
    val touched = IvfIndex.assign(emb.where(col("vec_id") % 3 === 0),
      "vec_id", "embedding", model)
      .select("cell").distinct().collect().map(r => s"cell=${r.getInt(0)}").toSet
    filesBefore.keys.filterNot(touched).foreach { c =>
      assert(filesAfter(c) == filesBefore(c), s"untouched $c was rewritten")
    }
    // idempotent: nothing left to remove
    assert(IvfIndex.purgeFromIndex(spark, dir.getAbsolutePath,
      purgeIds, "vec_id") == 0L)
    // purge everything remaining in one cell -> it drops out of the
    // manifest, and the vacuumed dir disappears from disk too
    val (_, p2) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    val victim = p2.groupBy("cell").count().orderBy(col("count"), col("cell"))
      .collect()(0).getInt(0)
    val victimIds = p2.where(col("cell") === victim).select(col("n_id"))
    IvfIndex.purgeFromIndex(spark, dir.getAbsolutePath, victimIds, "n_id")
    assert(IvfIndex.loadIndex(spark, dir.getAbsolutePath)._2
      .where(col("cell") === victim).count() == 0L)
    IvfIndex.vacuumIndex(spark, dir.getAbsolutePath)
    assert(!fs.exists(new Path(s"${dir.getAbsolutePath}/postings/cell=$victim")))
    // non-index layout refuses
    intercept[IllegalArgumentException] {
      IvfIndex.purgeFromIndex(spark,
        dir.getAbsolutePath + "_nope", purgeIds, "vec_id")
    }
  }

  test("purgeFromIndex crash semantics: a reader pinned mid-purge keeps " +
      "the old consistent index; a crash before the manifest flip is " +
      "invisible and re-running with the same ids heals; vacuum " +
      "reclaims only unlisted garbage") {
    import org.apache.hadoop.fs.Path
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_torn_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(emb, "vec_id", "embedding", model), path)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val purgeIds = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    def postingSet(): Set[(Long, Int)] =
      IvfIndex.loadIndex(spark, path)._2.select("n_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val prePurge = postingSet()
    // PIN a reader before the purge: loadIndex resolves the current
    // manifest, so this frame's file-set must survive the mutation
    val pinned = IvfIndex.loadIndex(spark, path)._2
    assert(IvfIndex.purgeFromIndex(spark, path, purgeIds, "vec_id") ==
      emb.where(col("vec_id") % 3 === 0).count())
    val want = postingSet()
    assert(want != prePurge)
    // the pinned reader still answers from the OLD consistent file-set
    // (copy-on-write: nothing it lists was deleted)
    assert(pinned.select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == prePurge,
      "pinned reader lost files mid-purge")
    // crash-before-flip: dropping the latest manifest IS the on-disk
    // state a crash between the rewrite moves and the flip leaves
    val latest = fs.listStatus(new Path(path)).map(_.getPath.getName)
      .filter(_.startsWith("_manifest.v")).sorted.last
    fs.delete(new Path(s"$path/$latest"), false)
    assert(postingSet() == prePurge,
      "unflipped rewrite files leaked into the visible set")
    // re-running with the same ids is the recovery
    IvfIndex.purgeFromIndex(spark, path, purgeIds, "vec_id")
    assert(postingSet() == want)
    // vacuum reclaims the garbage; the index still answers identically
    assert(IvfIndex.vacuumIndex(spark, path) > 0L)
    assert(postingSet() == want)
  }

  test("rebuildIndex: retrains on the postings' own vectors, preserves " +
      "every posting, swaps in place; search equals a fresh same-model " +
      "assignment; refuses a non-index path") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_rebuild_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    // stale geometry: 2 centroids trained on a biased half
    val stale = IvfIndex.train(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", k = 2)
    IvfIndex.saveIndex(stale,
      IvfIndex.assign(emb, "vec_id", "embedding", stale), dir.getAbsolutePath)
    val rebuilt = IvfIndex.rebuildIndex(spark, dir.getAbsolutePath, k = 8)
    assert(rebuilt.centroids.length == 8)
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    // returned model round-trips bit-for-bit and k actually changed
    rebuilt.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    // no posting lost or duplicated
    assert(postings.count() == emb.count())
    assert(postings.select("n_id").distinct().count() == emb.count())
    // assignments equal a fresh assign under the rebuilt model
    val fresh = IvfIndex.assign(emb, "vec_id", "embedding", rebuilt)
    assert(postings.select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      fresh.collect().map(r => (r.getLong(0), r.getInt(2))).toSet)
    // search parity at exhausted probes
    val queries = emb.where(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    assert(rows(IvfIndex.search(postings, queries, "vec_id", "embedding",
        loaded, k = 5, nProbe = 8)) ==
      rows(IvfIndex.search(fresh, queries, "vec_id", "embedding",
        rebuilt, k = 5, nProbe = 8)))
    // a clean rebuild leaves no staging dirs and no unlisted garbage
    // (rebuild ends with vacuumIndex)
    val leftovers = new java.io.File(dir.getAbsolutePath).listFiles()
      .map(_.getName).filter(_.startsWith(".rebuild_stage_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    intercept[IllegalArgumentException] {
      IvfIndex.rebuildIndex(spark, dir.getAbsolutePath + "_nope", k = 4)
    }
  }

  test("rebuildIndex crash window: a complete index is visible at every " +
      "instant — a crash before the manifest flip leaves the OLD index " +
      "answering and re-running is the recovery; a reader pinned across " +
      "the rebuild keeps the old index") {
    import org.apache.hadoop.fs.Path
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_rebuild_torn_${System.nanoTime()}")
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val m4 = IvfIndex.train(emb, "vec_id", "embedding", k = 4)
    IvfIndex.saveIndex(m4, IvfIndex.assign(emb, "vec_id", "embedding", m4), path)
    val total = emb.count()
    // crash-before-flip: run a rebuild WITHOUT its vacuum by rebuilding
    // then restoring the pre-rebuild manifest — on disk that is exactly
    // the torn state (new files present but unlisted)... except vacuum
    // already ran inside rebuildIndex, so fabricate the torn state
    // directly: stage new files by hand and do NOT flip
    val stage = new Path(path, ".rebuild_stage_postings")
    IvfIndex.assign(emb, "vec_id", "embedding", m4)
      .write.mode("overwrite").partitionBy("cell").parquet(stage.toString)
    // unflipped staging is invisible: the old k=4 index still answers
    val (loaded0, postings0) = IvfIndex.loadIndex(spark, path)
    assert(loaded0.centroids.length == 4)
    assert(postings0.count() == total)
    // re-running the rebuild is the recovery — it replaces the staging
    // root, commits one flip, vacuums the superseded files
    val pinned = IvfIndex.loadIndex(spark, path)._2.localCheckpoint()
    val rebuilt = IvfIndex.rebuildIndex(spark, path, k = 8)
    assert(rebuilt.centroids.length == 8)
    val (loaded1, postings1) = IvfIndex.loadIndex(spark, path)
    assert(loaded1.centroids.length == 8)
    assert(postings1.count() == total)
    assert(postings1.select("n_id").distinct().count() == total)
    // the pinned reader (checkpointed before the rebuild's vacuum)
    // still holds the complete old index
    assert(pinned.count() == total)
    // no staging roots left behind
    val leftovers = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith(".rebuild_stage_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("index lifecycle property: a seeded-random interleaving of " +
      "append/purge/compact/rebuild/vacuum keeps search at exhausted " +
      "probes equal to brute force over the surviving members at every " +
      "step boundary") {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_prop_${System.nanoTime()}")
    base.deleteOnExit()
    val path = base.getAbsolutePath
    val rnd = new scala.util.Random(42)
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    def byIds(ids: Set[Long]) = emb.where(col("vec_id").isin(ids.toSeq: _*))
    var members = allIds.take(800).toSet
    val m0 = IvfIndex.train(byIds(members), "vec_id", "embedding", k = 8)
    IvfIndex.saveIndex(m0,
      IvfIndex.assign(byIds(members), "vec_id", "embedding", m0), path)
    val queries = emb.where(col("vec_id") < 10).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    for (step <- 1 to 6) {
      rnd.nextInt(4) match {
        case 0 | 1 => // append NEW vectors only (the must-be-NEW contract)
          val batch = rnd.shuffle((allIds.toSet -- members).toSeq)
            .take(150).toSet
          if (batch.nonEmpty) {
            IvfIndex.appendToIndex(spark, path, byIds(batch),
              "vec_id", "embedding")
            members = members ++ batch
          }
        case 2 => // purge a mixed set (members and unknowns)
          val victims = rnd.shuffle(allIds.toSeq).take(120).toSet
          IvfIndex.purgeFromIndex(spark, path,
            byIds(victims).select("vec_id"), "vec_id")
          members = members -- victims
        case 3 =>
          if (rnd.nextBoolean()) IvfIndex.compactPostings(spark, path)
          else IvfIndex.rebuildIndex(spark, path, k = 8)
          if (rnd.nextBoolean()) IvfIndex.vacuumIndex(spark, path)
      }
      // invariant: at nProbe = k the search is exact over the members
      val (m, postings) = IvfIndex.loadIndex(spark, path)
      assert(postings.select("n_id").distinct().count() == members.size,
        s"step $step: membership drifted")
      val got = rows(IvfIndex.search(postings, queries,
        "vec_id", "embedding", m, k = 5, nProbe = m.centroids.length))
      val want = rows(Similarity.bruteTopK(byIds(members), queries,
        "vec_id", "embedding", 5))
      assert(got == want, s"step $step: search diverged from brute force")
    }
  }

  test("snapshot reads: loadIndex pinned pre-purge searches the full " +
    "corpus exactly (brute-force-equal at exhausted probes) AFTER the " +
    "purge committed; vacuum collapses the window and the pin refuses") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_asof_${System.nanoTime()}")
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    val model = IvfIndex.train(evens, "vec_id", "embedding", k = 8)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(evens, "vec_id", "embedding", model), path) // v1
    IvfIndex.appendToIndex(spark, path, odds, "vec_id", "embedding") // v2
    IvfIndex.purgeFromIndex(spark, path,
      emb.where(col("vec_id") % 7 === 0).select("vec_id"), "vec_id") // v3
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == Seq(1, 2, 3))
    val queries = emb.where(col("vec_id") < 10).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    def searchAt(asOf: Option[Int]) = {
      val (m, postings) = IvfIndex.loadIndex(spark, path, asOf)
      rows(IvfIndex.search(postings, queries, "vec_id", "embedding", m,
        k = 5, nProbe = m.centroids.length))
    }
    assert(searchAt(Some(2)) ==
      rows(Similarity.bruteTopK(emb, queries, "vec_id", "embedding", 5)),
      "the pre-purge snapshot must still answer over the full corpus")
    assert(searchAt(Some(1)) ==
      rows(Similarity.bruteTopK(evens, queries, "vec_id", "embedding", 5)),
      "the bootstrap snapshot must answer over the bootstrap corpus")
    val survivors = emb.where(col("vec_id") % 7 =!= 0)
    assert(searchAt(None) ==
      rows(Similarity.bruteTopK(survivors, queries, "vec_id", "embedding", 5)),
      "latest must answer over the purge survivors")
    IvfIndex.vacuumIndex(spark, path)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == Seq(3))
    val e = intercept[IllegalArgumentException](searchAt(Some(2)))
    assert(e.getMessage.contains("v2") &&
      e.getMessage.contains("keepVersions"),
      s"out-of-window pin must name the remedy: ${e.getMessage}")
    assert(searchAt(None) ==
      rows(Similarity.bruteTopK(survivors, queries, "vec_id", "embedding", 5)),
      "the present must be untouched by retention")
  }

  test("stale index: dimension mismatch fails loudly, corrupt centroid " +
      "set refuses at load") {
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_stale_${System.nanoTime()}")
    dir.deleteOnExit()
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 4)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(emb, "vec_id", "embedding", model), dir.getAbsolutePath)
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    // queries re-embedded at a different dimensionality vs the saved
    // index: the nearest_cells kernel refuses per row — never garbage
    val wrongDim = Seq((1L, Array(0.5, 0.25))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      IvfIndex.search(postings, wrongDim, "vec_id", "embedding",
        loaded, k = 5, nProbe = 2).collect()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("dimension mismatch") ||
        Option(e.getCause).exists(_.getMessage.contains("dimension mismatch"))))
    // a hand-edited centroid table with a missing cell refuses at load
    val broken = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_broken_${System.nanoTime()}")
    broken.deleteOnExit()
    spark.read.parquet(s"$dir/centroids").where(col("cell") =!= 1)
      .coalesce(1).write.parquet(s"$broken/centroids")
    spark.read.parquet(s"$dir/postings").write.partitionBy("cell")
      .parquet(s"$broken/postings")
    // hand-written files without a manifest are not an index
    val noMf = intercept[IllegalArgumentException](
      IvfIndex.loadIndex(spark, broken.getAbsolutePath))
    assert(noMf.getMessage.contains("no store manifest"), noMf.getMessage)
    // committed over a manifest, the centroid validation fires
    val fs = StoreSwap.fsOf(spark, broken.getAbsolutePath)
    StoreSwap.commitManifest(fs, broken.getAbsolutePath, 1,
      Seq("centroids", "postings").flatMap(
        StoreSwap.listDirFiles(fs, broken.getAbsolutePath, _)))
    val gap = intercept[IllegalArgumentException](
      IvfIndex.loadIndex(spark, broken.getAbsolutePath))
    assert(gap.getMessage.contains("non-contiguous cell ids"), gap.getMessage)
    // saveIndex refuses a frame that is not an assign() output
    intercept[IllegalArgumentException] {
      IvfIndex.saveIndex(model, emb, dir.getAbsolutePath + "_x")
    }
  }

  test("appendToIndex: a delta with a different vector element type, " +
      "wrong dimensionality, or NULL vectors refuses BEFORE the write " +
      "mutates the persisted postings") {
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_guard_${System.nanoTime()}")
    dir.deleteOnExit()
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 4)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(emb, "vec_id", "embedding", model), dir.getAbsolutePath)
    val before = IvfIndex.loadIndex(spark, dir.getAbsolutePath)._2.count()
    // element-type mismatch: array<double> onto an array<float> index
    val doubleDelta = Seq((9001L, Array.fill(model.dim)(0.25)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
        doubleDelta, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("vector type"))
    // right type, wrong per-row dimensionality
    val shortDelta = Seq((9002L, Array(0.25f, 0.5f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
        shortDelta, "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("dimensionality"))
    // NULL vector
    val nullDelta = Seq((9003L, Option.empty[Array[Float]]))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
        nullDelta, "vec_id", "embedding")
    }
    // index intact: same posting count, still loadable and searchable
    val (loaded, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    assert(postings.count() == before)
    assert(IvfIndex.search(postings, emb.where(col("vec_id") < 3), "vec_id",
      "embedding", loaded, k = 3, nProbe = 2).count() > 0)
  }

  test("train sample is content-hash drawn — unbiased across file order " +
      "— and training stays deterministic") {
    import spark.implicits._
    // first 3000 rows in file order sit at cluster A, the last 1000 at
    // cluster B: a file-order limit(100) would see ONLY A and train
    // centroids that mis-cover B
    val rows = (0 until 3000).map(i =>
      (i.toLong, Array(0.0f + (i % 7) * 0.01f, 0.0f))) ++
      (3000 until 4000).map(i =>
        (i.toLong, Array(10.0f + (i % 7) * 0.01f, 10.0f)))
    val skewed = rows.toDF("vec_id", "embedding").coalesce(1)
    val model = IvfIndex.train(skewed, "vec_id", "embedding", k = 2, sampleSize = 100)
    val sawB = model.centroids.exists(c => c(0) > 5.0 && c(1) > 5.0)
    val sawA = model.centroids.exists(c => c(0) < 5.0 && c(1) < 5.0)
    assert(sawA && sawB,
      s"hash-drawn sample must span both clusters: ${model.centroids.map(_.toSeq).toSeq}")
    // deterministic across re-runs and partition counts
    val again = IvfIndex.train(skewed.repartition(7), "vec_id", "embedding", k = 2,
      sampleSize = 100)
    assert(model.centroids.map(_.toSeq).toSeq ==
      again.centroids.map(_.toSeq).toSeq)
    // PQ rides the same protocol
    val pq = PqIndex.train(skewed, "vec_id", "embedding", m = 2, k = 2, sampleSize = 100)
    val pq2 = PqIndex.train(skewed.repartition(5), "vec_id", "embedding", m = 2, k = 2,
      sampleSize = 100)
    assert(pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    assert(pq.codebooks(0).exists(_(0) > 5.0) &&
      pq.codebooks(0).exists(_(0) < 5.0),
      "PQ subspace codebook must span both clusters")
  }

  test("compactPostings: folds per-cell append files into one set with " +
      "identical search results; refuses a non-index layout") {
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_compact_${System.nanoTime()}")
    dir.deleteOnExit()
    val half = emb.where(col("vec_id") % 2 === 0)
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 4)
    IvfIndex.saveIndex(model,
      IvfIndex.assign(half, "vec_id", "embedding", model), dir.getAbsolutePath)
    // two appends → each touched cell accumulates extra file-sets
    IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
      emb.where(col("vec_id") % 4 === 1), "vec_id", "embedding")
    IvfIndex.appendToIndex(spark, dir.getAbsolutePath,
      emb.where(col("vec_id") % 4 === 3), "vec_id", "embedding")
    def cellFiles(): Map[String, Int] = {
      val cells = new java.io.File(dir, "postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      cells.map(c => c.getName ->
        c.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))).toMap
    }
    assert(cellFiles().values.exists(_ > 1),
      "fixture must accumulate multiple files in at least one cell")
    def results() = {
      val (m, postings) = IvfIndex.loadIndex(spark, dir.getAbsolutePath)
      IvfIndex.search(postings, emb.where(col("vec_id") < 5).limit(5),
        "vec_id", "embedding", m, k = 5, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sorted.toSeq
    }
    val before = results()
    IvfIndex.compactPostings(spark, dir.getAbsolutePath)
    assert(cellFiles().values.forall(_ == 1),
      s"every cell must fold to one file: ${cellFiles()}")
    assert(results() === before)
    // idempotent; appends after compaction still merge correctly
    IvfIndex.compactPostings(spark, dir.getAbsolutePath)
    assert(results() === before)
    intercept[IllegalArgumentException] {
      IvfIndex.compactPostings(spark,
        dir.getAbsolutePath + "_missing")
    }
  }

  test("search: a query table past MaxBroadcastQueries drops the hard " +
      "broadcast hint (shuffle join, no driver-OOM path) and answers " +
      "identically to the broadcast path") {
    import spark.implicits._
    val model = IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    val idx = IvfIndex.assign(emb, "vec_id", "embedding", model)
    val dim = model.dim
    val vecCols = array((0 until dim).map(i => lit(((i % 7) + 1) * 0.1f)): _*)
    val big = spark.range(0, IvfIndex.MaxBroadcastQueries + 1)
      .select((col("id") + 1000000L).as("vec_id"), vecCols.as("embedding"))
    val outBig = IvfIndex.search(idx, big, "vec_id", "embedding", model,
      k = 5, nProbe = 2)
    assert(!outBig.queryExecution.analyzed.toString.toLowerCase
      .contains("broadcast"), "over-bound query table must not be hinted")
    val one = big.where(col("vec_id") === 1000000L)
    val outOne = IvfIndex.search(idx, one, "vec_id", "embedding", model,
      k = 5, nProbe = 2)
    assert(outOne.queryExecution.analyzed.toString.toLowerCase
      .contains("broadcast"), "small query table keeps the fast path")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("n_id")))
        .sorted.toSeq
    assert(rows(outBig.where(col("q_id") === 1000000L)) == rows(outOne))
  }

  test("tripletMine: positive = rank 1, hard negative = rank m+1, margin holds") {
    import spark.implicits._
    // 2-D unit vectors at known angles from the anchor (id 0 at 0 rad):
    // cosine ranking is the angle ranking, hand-checkable
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(math.cos(0.1).toFloat, math.sin(0.1).toFloat)), // rank 1
      (2L, Array(math.cos(0.3).toFloat, math.sin(0.3).toFloat)), // rank 2
      (3L, Array(math.cos(0.6).toFloat, math.sin(0.6).toFloat)), // rank 3
      (4L, Array(math.cos(1.0).toFloat, math.sin(1.0).toFloat)), // rank 4
      (5L, Array(math.cos(1.4).toFloat, math.sin(1.4).toFloat))) // rank 5
      .toDF("vec_id", "embedding")
    val t = Similarity.tripletMine(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", m = 2)
    val row = t.collect().head
    assert(row.getAs[Long]("pos_id") == 1L)  // nearest
    assert(row.getAs[Long]("neg_id") == 3L)  // just outside top-2
    assert(row.getAs[Double]("pos_cos") > row.getAs[Double]("neg_cos"))
    // fewer than m+1 candidates -> the query drops, nothing fabricated
    val tiny = vecs.where(col("vec_id") <= 1L)
    assert(Similarity.tripletMine(tiny, tiny.where(col("vec_id") === 0L),
      "vec_id", "embedding", m = 2).count() == 0L)
  }
}
