package graft

import graft.operators.{IvfIndex, SemDeDup, SemanticStore, StoreSwap}
import org.apache.spark.sql.functions._

/** The semantic store's lifecycle against a PURE-SCALA reference
  * implementation of arrival-order dominance (computed from raw
  * embeddings + basis centroids, independent of every engine path),
  * plus the cross-gate to one-shot [[SemDeDup.dedup]]. */
class SemanticStoreSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
  private val model = IvfIndex.Model(Array(basis(0), basis(1), basis(2)))
  private val tau = 0.35

  /** (doc, nv, cell, csim, seq) computed independently: basis
    * centroids make cell = first argmax of nv[0..2] and csim =
    * nv[cell]. */
  private def refRows(seqOf: Long => Int): Seq[(Long, Array[Double], Int, Double, Int)] = {
    emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        val nv = v.map(_ / n)
        val cell =
          if (nv(0) >= nv(1) && nv(0) >= nv(2)) 0
          else if (nv(1) >= nv(2)) 1 else 2
        (id, nv, cell, nv(cell), seqOf(id))
      }.toSeq
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  /** Arrival-order dominance survivors: a is dropped iff ANY
    * (seq, csim, id)-earlier same-cell member is tau-similar. */
  private def refSurvivors(rows: Seq[(Long, Array[Double], Int, Double, Int)])
  : Set[Long] = {
    def earlier(b: (Long, Array[Double], Int, Double, Int),
                a: (Long, Array[Double], Int, Double, Int)): Boolean =
      b._5 < a._5 || (b._5 == a._5 &&
        (b._4 < a._4 || (b._4 == a._4 && b._1 < a._1)))
    rows.groupBy(_._3).values.flatMap { cell =>
      cell.filter(a => !cell.exists(b =>
        b._1 != a._1 && earlier(b, a) && dot(a._2, b._2) >= tau))
    }.map(_._1).toSet
  }

  private def newDir(tag: String): String = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_semstore_${tag}_${System.nanoTime()}")
    f.deleteOnExit(); f.getAbsolutePath
  }

  test("single-batch store: deriveSurvivors == one-shot SemDeDup.dedup " +
    "(same order when every seq is equal) == the pure-Scala reference") {
    val path = newDir("single")
    SemanticStore.save(emb, "vec_id", "embedding", path, model)
    val derived = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    val oneShot = SemDeDup.dedup(emb, "vec_id", "embedding", model, tau)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ref = refSurvivors(refRows(_ => 1))
    assert(derived == oneShot,
      s"missing=${(oneShot -- derived).take(5)} extra=${(derived -- oneShot).take(5)}")
    assert(derived == ref)
    assert(derived.size < emb.count(), "nothing was ever dropped — vacuous")
  }

  test("two-batch ingest: verdicts == arrival-order reference; replayed " +
    "ingest returns identical verdicts without a new version; " +
    "purge re-admits what only purged dominators suppressed; " +
    "snapshot pins the pre-purge state; compact is invisible") {
    val path = newDir("lifecycle")
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    SemanticStore.save(evens, "vec_id", "embedding", path, model) // v1
    val verdicts = SemanticStore.ingest(odds, "vec_id", "embedding",
      path, tau) // v2, seq=2
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // reference: evens arrived first (seq 1), odds second (seq 2)
    val rows = refRows(id => if (id % 2 == 0) 1 else 2)
    val ref = refSurvivors(rows)
    assert(verdicts.keySet == rows.filter(_._1 % 2 == 1).map(_._1).toSet,
      "verdicts must cover exactly the batch ids")
    verdicts.foreach { case (id, kept) =>
      assert(kept == ref.contains(id), s"verdict mismatch for $id")
    }
    assert(verdicts.exists(!_._2), "no odd doc was dropped — vacuous")
    // whole-store derive matches too (evens included)
    val derived = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(derived == ref)
    // replay: same verdicts, same version (no flip for a fully-seen batch)
    val vBefore = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path)
    val replayed = SemanticStore.ingest(odds, "vec_id", "embedding",
      path, tau)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(replayed == verdicts)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == vBefore,
      "a fully-seen batch must not commit a new version")
    // purge every third doc: derived survivors == reference over the
    // REMAINING membership (dominance re-derives automatically — docs
    // suppressed only by purged dominators come back)
    val purgeIds = emb.where(col("vec_id") % 3 === 0).select(col("vec_id"))
    val n = SemanticStore.purge(spark, path, purgeIds, "vec_id") // v3
    assert(n == emb.where(col("vec_id") % 3 === 0).count())
    val refAfter = refSurvivors(rows.filter(_._1 % 3 != 0))
    val derivedAfter = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(derivedAfter == refAfter,
      s"missing=${(refAfter -- derivedAfter).take(5)} " +
        s"extra=${(derivedAfter -- refAfter).take(5)}")
    assert((refAfter -- ref).nonEmpty,
      "no doc was re-admitted by the purge — the re-derive gate is vacuous")
    // purged ids answer no verdicts; unknown purge is a REAL no-op
    assert(SemanticStore.verdictsForIds(spark, path, purgeIds, "vec_id",
      tau).count() == 0L)
    val vAfterPurge = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path)
    assert(SemanticStore.purge(spark, path, purgeIds, "vec_id") == 0L)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == vAfterPurge,
      "a no-op purge must not commit a new version")
    // snapshot: pinned pre-purge derive sees the full membership
    val pinned = SemanticStore.deriveSurvivors(spark, path, tau,
      asOfVersion = Some(2))
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(pinned == ref)
    // compact + vacuum: results unchanged, files folded
    SemanticStore.compact(spark, path)
    val derivedCompacted = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(derivedCompacted == refAfter)
  }

  test("mass guards refuse oversized compares with the remedy named; " +
    "verdicts for unknown ids are empty; non-store path refuses") {
    val path = newDir("guards")
    SemanticStore.save(emb, "vec_id", "embedding", path, model)
    val e1 = intercept[IllegalArgumentException] {
      SemanticStore.deriveSurvivors(spark, path, tau, maxCellPairs = 10L)
    }
    assert(e1.getMessage.contains("Train more cells"))
    val vBefore = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path)
    val e2 = intercept[IllegalArgumentException] {
      SemanticStore.ingest(
        Tables.embeddings(spark, "/root/testdata/sf0.001")
          .withColumn("vec_id", col("vec_id") + 1000000L),
        "vec_id", "embedding", path, tau, maxCellPairs = 10L)
    }
    assert(e2.getMessage.contains("maxCellPairs") &&
      e2.getMessage.contains("nothing was written"))
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == vBefore,
      "guard-refused ingest committed a version")
    // the guard bounds the FULL verdict compare, so a fully-SEEN batch
    // past the cap refuses BEFORE verdictsForIds (no half-observable
    // state a retry could never get past) — and with the default cap
    // the same re-sent batch answers verdicts normally
    val e2b = intercept[IllegalArgumentException] {
      SemanticStore.ingest(emb, "vec_id", "embedding", path, tau,
        maxCellPairs = 10L)
    }
    assert(e2b.getMessage.contains("nothing was written"))
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == vBefore)
    assert(SemanticStore.ingest(emb, "vec_id", "embedding", path, tau)
      .count() == emb.count())
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == vBefore,
      "fully-seen re-ingest committed a version")
    import spark.implicits._
    assert(SemanticStore.verdictsForIds(spark, path,
      Seq(999999L).toDF("vec_id"), "vec_id", tau).count() == 0L)
    val e3 = intercept[IllegalArgumentException] {
      SemanticStore.deriveSurvivors(spark,
        newDir("nothing"), tau)
    }
    assert(e3.getMessage.contains("SemanticStore layout"))
  }

  test("writer isolation: two racing ingests serialize through the CAS " +
    "manifest — each batch lands exactly once under ONE seq, the loser " +
    "retries against the winner's manifest, and the derive equals the " +
    "reference under the OBSERVED commit order") {
    val path = newDir("race")
    val evens = emb.where(col("vec_id") % 2 === 0)
    SemanticStore.save(evens, "vec_id", "embedding", path, model) // v1
    val bA = emb.where(col("vec_id") % 4 === 1).localCheckpoint()
    val bB = emb.where(col("vec_id") % 4 === 3).localCheckpoint()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(bA, bB).map { b =>
      new Thread(() => {
        try {
          barrier.await()
          var done = false
          while (!done) {
            try {
              SemanticStore.ingest(b, "vec_id", "embedding", path, tau)
                .count()
              done = true
            } catch {
              // CAS loser: nothing visible; re-run is the contract
              case _: java.util.ConcurrentModificationException => ()
            }
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing ingest died: ${errs.peek()}")
    // every doc exactly once (a blind retry would double-append)
    val members = SemanticStore.verdictsForIds(spark, path,
      emb.select(col("vec_id")), "vec_id", tau)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq
    assert(members.length == emb.count(), s"${members.length} members")
    assert(members.map(_._1).distinct.length == members.length,
      "a doc appears twice — the retry re-appended")
    // batch atomicity: each quarter carries ONE seq, and the two
    // quarters carry DIFFERENT seqs (the serialized commit order)
    val seqOf = members.toMap
    val seqA = bA.select("vec_id").collect().map(r => seqOf(r.getLong(0))).distinct
    val seqB = bB.select("vec_id").collect().map(r => seqOf(r.getLong(0))).distinct
    assert(seqA.length == 1 && seqB.length == 1 && seqA.head != seqB.head,
      s"batch seqs not atomic: A=${seqA.toSeq} B=${seqB.toSeq}")
    // the derive equals the arrival-order reference under the seq
    // assignment the race actually produced
    val derived = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(derived == refSurvivors(refRows(id => seqOf(id))),
      "derive diverged from the observed-commit-order reference")
  }

  test("staged re-save over a live store: the superseded version's " +
    "pinned reads stay byte-complete, and the new save's different " +
    "id-bucket count resolves through the VERSIONED layout (floor rule)") {
    val path = newDir("resave")
    val evens = emb.where(col("vec_id") % 2 === 0)
    SemanticStore.save(evens, "vec_id", "embedding", path, model) // v1, pb=64
    val before = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    // re-create the store at the same path from the FULL corpus with a
    // different pb count — v2 continues the chain; v1 keeps its files
    // (the old design's overwrite-mode save physically deleted them)
    SemanticStore.save(emb, "vec_id", "embedding", path, model,
      idBuckets = 4) // v2
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == Seq(1, 2))
    val pinned = SemanticStore.deriveSurvivors(spark, path, tau,
      asOfVersion = Some(1))
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(pinned == before, "v1 broke under the v2 save")
    // the pb-ROUTED pinned path (verdictsForIds prunes idmap by v1's
    // pb=64, not v2's 4): every v1 member answers, survivors match
    val v1Verdicts = SemanticStore.verdictsForIds(spark, path,
      evens.select(col("vec_id")), "vec_id", tau, asOfVersion = Some(1))
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(v1Verdicts.size == evens.count())
    assert(v1Verdicts.filter(_._2).keySet == before)
    // latest resolves the NEW store: full membership at pb=4 routing,
    // every seq re-assigned by the v2 save
    val latest = SemanticStore.verdictsForIds(spark, path,
      emb.select(col("vec_id")), "vec_id", tau)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(latest.size == emb.count())
    assert(latest.values.toSet == Set(2), "v2 members must carry seq=2")
    // vacuum to 1 version reclaims the superseded v1 store
    assert(SemanticStore.vacuum(spark, path) > 0L)
    intercept[IllegalArgumentException] {
      SemanticStore.deriveSurvivors(spark, path, tau, asOfVersion = Some(1))
    }
  }

  test("compact keepVersions: nightly maintenance no longer collapses " +
    "the snapshot window — a pre-compact pinned read still resolves") {
    val path = newDir("compactkeep")
    val evens = emb.where(col("vec_id") % 2 === 0)
    val odds = emb.where(col("vec_id") % 2 === 1)
    SemanticStore.save(evens, "vec_id", "embedding", path, model) // v1
    SemanticStore.ingest(odds, "vec_id", "embedding", path, tau).count() // v2
    val preCompact = SemanticStore.deriveSurvivors(spark, path, tau,
      asOfVersion = Some(1))
      .select("doc").collect().map(_.getLong(0)).toSet
    SemanticStore.compact(spark, path, keepVersions = 2) // v3 + vacuum(2)
    // the pre-compact v2 is retained; v1 is out of window
    val pinned = SemanticStore.deriveSurvivors(spark, path, tau,
      asOfVersion = Some(2))
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(pinned == SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet,
      "pre-compact snapshot must equal the compacted present")
    intercept[IllegalArgumentException] {
      SemanticStore.deriveSurvivors(spark, path, tau, asOfVersion = Some(1))
    }
    assert(preCompact.nonEmpty)
  }

  test("reader isolation: a reader pinned mid-purge resolves the old " +
    "consistent file-set; crash-before-flip is invisible and re-run " +
    "heals; vacuum reclaims exactly the unlisted garbage") {
    import org.apache.hadoop.fs.Path
    val path = newDir("isolation")
    SemanticStore.save(emb, "vec_id", "embedding", path, model)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val before = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    // simulate crash-before-flip: stage a purge's rewrites by hand
    // (copy-on-write files land, no manifest) — readers see nothing new
    val stage = new Path(path, ".purge_stage_vectors")
    fs.mkdirs(new Path(stage, "cell=0"))
    val unflipped = SemanticStore.deriveSurvivors(spark, path, tau)
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(unflipped == before, "unflipped staging leaked into a read")
    // real purge; a reader pinned at v1 still sees the pre-purge set
    SemanticStore.purge(spark, path,
      emb.where(col("vec_id") % 3 === 0).select(col("vec_id")), "vec_id")
    val pinnedOld = SemanticStore.deriveSurvivors(spark, path, tau,
      asOfVersion = Some(1))
      .select("doc").collect().map(_.getLong(0)).toSet
    assert(pinnedOld == before,
      "pinned reader lost the pre-purge file-set before vacuum")
    // vacuum default collapses history: the pin now refuses loudly
    assert(SemanticStore.vacuum(spark, path) > 0L,
      "purge left no unlisted garbage to reclaim — copy-on-write broke")
    val e = intercept[IllegalArgumentException] {
      SemanticStore.deriveSurvivors(spark, path, tau, asOfVersion = Some(1))
    }
    assert(e.getMessage.contains("retained"))
  }
}
