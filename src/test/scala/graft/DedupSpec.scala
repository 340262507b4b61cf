package graft

import graft.operators.{Dedup, StoreSwap}
import org.apache.spark.sql.functions._

/** Dedup operator family invariants on real documents. */
class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("exact dedup: output ids unique, fingerprints unique, count <= input") {
    val out = Dedup.exact(docs, "doc_id", "text")
    val n = out.count()
    assert(n <= docs.count())
    assert(out.select("fp").distinct().count() == n)
    assert(out.select("doc_id").distinct().count() == n)
  }

  test("exactKeepBest picks the longest copy per fingerprint") {
    import spark.implicits._
    val d = Seq(
      (1L, "hello  world", 11L), // same normalized text, shorter raw
      (2L, "hello world", 12L),  // longer n_chars wins
      (3L, "unique text", 5L))
      .toDF("doc_id", "text", "n_chars")
    val kept = Dedup.exactKeepBest(d, "doc_id", "text", "n_chars")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("minhashDuplicates is the Jaccard-verified subset of LSH candidates") {
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacc = Dedup.jaccardPairs(docs, "doc_id", "text", 0.4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupsDf = Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4)
    val dups = dupsDf
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.subsetOf(cand) && dups.subsetOf(jacc))
    assert(dups == (cand intersect jacc))
    // plan gate for the round-9 reorder: the verify must be candidate-
    // restricted — NO join keyed on hv alone (that is the full-corpus
    // posting self-join whose blowup LSH banding exists to avoid; the
    // legitimate verify join keys on (d2, hv))
    val plan = dupsDf.queryExecution.executedPlan.toString
    assert(!plan.matches("""(?s).*Join \[hv#\d+L?\], \[hv#\d+L?\].*"""),
      "full posting self-join (hv-only keys) found in minhashDuplicates:\n" +
        plan.take(1200))
  }

  test("components: transitive closure, singletons self-labeled, converges") {
    import spark.implicits._
    // chain 1-2-3 (1~3 never paired), pair 10-11, singleton 20
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val out = graft.operators.Dedup.components(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("components on a long chain still reaches the global min") {
    import spark.implicits._
    val n = 12 // diameter 11 — forces multiple propagation rounds
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("d1", "d2")
    val out = graft.operators.Dedup.components(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(1)).distinct
    assert(out.toSeq == Seq(1L))
  }

  test("components fails loudly instead of returning non-converged labels") {
    import spark.implicits._
    val n = 40 // diameter 39 > 2 hops/iter * 2 iters
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.components(docs, "doc_id", pairs, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("componentsStar equals min-label propagation on random pair graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val docs = (1L to 200L).toDF("doc_id")
    val pairs = (1 to 150)
      .map(_ => (rnd.nextInt(200) + 1L, rnd.nextInt(200) + 1L))
      .filter { case (a, b) => a != b }
      .toDF("d1", "d2")
    val prop = graft.operators.Dedup.components(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = graft.operators.Dedup.componentsStar(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
  }

  test("componentsStar collapses a deep chain propagation cannot reach") {
    import spark.implicits._
    val n = 2000L // diameter 1999: propagation needs 1000 rounds, star ~log n
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = graft.operators.Dedup
      .componentsStar(docs, "doc_id", pairs, maxIters = 20)
      .collect().map(r => r.getLong(1)).distinct
    assert(labels.toSeq == Seq(1L))
  }

  test("decontaminateBloom == decontaminate, even at adversarial fpp") {
    val evalSet = docs.where(col("doc_id") < 25)
    val exact = graft.operators.Dedup
      .decontaminate(docs, evalSet, "doc_id", "text", ngram = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // normal operating point
    val bloom = graft.operators.Dedup
      .decontaminateBloom(docs, evalSet, "doc_id", "text", ngram = 3, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
    // fpp 0.5: half of all clean postings pass the prefilter as false
    // positives — the exact confirm join must still kill every one
    val sloppy = graft.operators.Dedup
      .decontaminateBloom(docs, evalSet, "doc_id", "text", ngram = 3, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sloppy == exact)
    // the operator is eager now (contaminated ids materialize so cache +
    // broadcast release at call time): the RETURNED plan is a bare
    // anti-join against the materialized id set...
    val bloomDf = graft.operators.Dedup
      .decontaminateBloom(docs, evalSet, "doc_id", "text")
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && plan.contains("ExistingRDD"),
      plan.take(600))
    // ...so the narrow `might_contain` prefilter is gated directly on the
    // expression: a broadcast-bloom filter stage stays in whole-stage
    // codegen with the broadcast handle, not the filter bytes, in-plan
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bf.putLong(42L)
    val bc = spark.sparkContext.broadcast(bf)
    val pre = docs.select(col("doc_id"))
      .where(graft.functions.BloomMightContainBc.mightContain(bc, col("doc_id")))
    val prePlan = pre.queryExecution.executedPlan.toString
    assert(prePlan.contains("might_contain_bc"), prePlan.take(600))
    // fallback=false turns a codegen-compile failure into a hard error
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(pre.collect().map(_.getLong(0)).toSet == Set(42L))
    finally spark.conf.unset("spark.sql.codegen.fallback")
    // the filter ships as a broadcast handle, never as a plan literal:
    // no binary literal anywhere in the analyzed tree (a serialized
    // bloom embedded as Literal(bytes) would ride with every task set)
    val binLits = bloomDf.queryExecution.analyzed.collect { case p =>
      p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType == org.apache.spark.sql.types.BinaryType => l
      })
    }.flatten
    assert(binLits.isEmpty,
      s"analyzed plan embeds ${binLits.size} binary literal(s)")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup
        .decontaminateBloom(docs, evalSet, "doc_id", "text", fpp = 0.0)
    }
  }

  test("componentsAuto routes a 2000-deep chain to star after the bounded probe") {
    import spark.implicits._
    // the chooser's failure mode before it existed: pointing a deep graph
    // at the diameter-bound variant hung or threw. Auto must probe with a
    // BOUNDED label-prop budget (4 iters = 8 hops << 1999), give up, and
    // land the exact answer via star contraction.
    val n = 2000L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = graft.operators.Dedup
      .componentsAuto(docs, "doc_id", pairs, propIters = 4)
      .collect().map(r => r.getLong(1)).distinct
    assert(labels.toSeq == Seq(1L))
    // and a shallow near-dup graph resolves inside the probe (no fallback
    // cost): same answer as plain label propagation
    val shallow = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val sdocs = (1L to 12L).toDF("doc_id")
    val auto = graft.operators.Dedup.componentsAuto(sdocs, "doc_id", shallow)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = graft.operators.Dedup.components(sdocs, "doc_id", shallow)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto == prop)
  }

  test("componentsAuto fallback seeds star with probe labels (mixed-depth graph)") {
    import spark.implicits._
    // a deep chain (forces fallback) PLUS shallow clusters that the probe
    // fully resolves — the probe-seeded star must return exact minima for
    // BOTH: the chain via star over the contracted (shortened) graph, the
    // shallow clusters straight from their probe labels.
    val chain = (100L until 600L).map(i => (i, i + 1))        // diameter 500
    val tri = Seq((5L, 6L), (6L, 7L))                         // shallow
    val pairSelf = Seq((90L, 90L))                            // self-loop noise
    val pairs = (chain ++ tri ++ pairSelf).toDF("d1", "d2")
    val docs = ((1L to 10L) ++ (90L to 95L) ++ (100L to 601L)).toDF("doc_id")
    val out = graft.operators.Dedup
      .componentsAuto(docs, "doc_id", pairs, propIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected =
      ((1L to 10L).map(i => i -> (if (i == 6 || i == 7) 5L else i)) ++
        (90L to 95L).map(i => i -> i) ++
        (100L to 600L).map(i => i -> 100L) ++
        Seq(601L -> 601L)).toMap // edge-less doc stays a singleton
    assert(out == expected)
    // the probe really did fall back: plain components at the same budget
    // throws the TYPED no-fixpoint signal
    intercept[graft.operators.ComponentsNoFixpointException] {
      graft.operators.Dedup.components(docs, "doc_id", pairs, maxIters = 3)
    }
  }

  test("simhash near-dups: symmetric-free (d1<d2), hamming bound respected") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxBits = 3).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("native simhash48 expression == declarative explode/agg formulation") {
    val native = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decl = graft.operators.DedupReference.simhashDeclarative(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(decl.nonEmpty && native.size == docs.count())
    // declarative drops no docs here (every doc has >= 1 token row)
    decl.foreach { case (doc, sig) => assert(native(doc) == sig, s"doc $doc") }
  }

  test("simhash48 signatures genuinely fill all four 12-bit bands") {
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(_.getLong(1))
    (0 to 3).foreach { b =>
      val buckets = sigs.map(s => (s >> (b * 12)) & 0xfff).distinct
      assert(buckets.length > 1, s"band $b is constant -> pigeonhole join degenerates")
    }
  }

  test("exactIncremental: idempotent append, intra-batch keep-min, fp gate") {
    import spark.implicits._
    val seenDocs = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val seen = Dedup.exact(seenDocs, "doc_id", "text").select("fp")
    val batch = Seq(
      (10L, "ALPHA   beta"),   // normalizes to a seen fingerprint -> drop
      (11L, "delta"),          // new -> keep
      (12L, "delta"),          // intra-batch dup -> min id 11 wins
      (13L, "epsilon"))        // new -> keep
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, "doc_id", "text", seen)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L, 13L))
    // appending the survivors' fps makes the same batch a no-op
    val seen2 = seen.union(out.select("fp"))
    assert(Dedup.exactIncremental(batch, "doc_id", "text", seen2).count() == 0)
    intercept[IllegalArgumentException] {
      Dedup.exactIncremental(batch, "doc_id", "text",
        seenDocs.select(col("text").as("not_fp")))
    }
  }

  test("minhashIncremental: two-batch ingest against the persisted store " +
    "returns exactly the one-shot pair set; re-ingesting a seen batch is " +
    "a zero-pair no-op; non-store layout refuses") {
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_store_${System.nanoTime()}")
    store.deleteOnExit()
    val batch1 = docs.where(col("doc_id") % 2 === 0)
    val batch2 = docs.where(col("doc_id") % 2 === 1)
    Dedup.saveMinhashStore(batch1, "doc_id", "text", store.getAbsolutePath)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bootstrap = pairSet(
      Dedup.minhashDuplicates(batch1, "doc_id", "text", 0.4))
    val delta = pairSet(Dedup.minhashIncremental(
      batch2, "doc_id", "text", store.getAbsolutePath, 0.4))
    val oneShot = pairSet(
      Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4))
    assert((bootstrap ++ delta) == oneShot,
      s"missing=${(oneShot -- bootstrap -- delta).take(5)} " +
        s"extra=${((bootstrap ++ delta) -- oneShot).take(5)}")
    // every delta pair touches at least one batch-2 (odd) doc
    assert(delta.forall(p => p._1 % 2 == 1 || p._2 % 2 == 1))
    // idempotent: the whole corpus is now in the store
    assert(Dedup.minhashIncremental(docs, "doc_id", "text",
      store.getAbsolutePath, 0.4).count() == 0L)
    // a directory that is not a signature store refuses
    val notStore = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_notstore_${System.nanoTime()}")
    notStore.deleteOnExit()
    docs.limit(1).write.parquet(s"$notStore/postings")
    docs.limit(1).write.parquet(s"$notStore/bands")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIncremental(docs, "doc_id", "text",
        notStore.getAbsolutePath, 0.4)
    }
    assert(e.getMessage.contains("saveMinhashStore layout"))
  }

  test("pairsForIds: store-derived pairs touching an id set == the " +
    "delta restriction of the one-shot set; ingest-only appends grow " +
    "the store without pair work; unknown and purged ids emit nothing") {
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_pairs_for_ids_${System.nanoTime()}")
    store.deleteOnExit()
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    Dedup.saveMinhashStore(evens, "doc_id", "text", store.getAbsolutePath)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ingest-only path: typed-empty return, but the append happened
    val ingestOnly = Dedup.minhashIncremental(odds, "doc_id", "text",
      store.getAbsolutePath, 0.4, computePairs = false)
    assert(ingestOnly.columns.toSeq == Seq("d1", "d2", "jaccard"))
    assert(ingestOnly.count() == 0L)
    assert(Dedup.minhashIncremental(docs, "doc_id", "text",
      store.getAbsolutePath, 0.4).count() == 0L,
      "ingest-only append did not mark the batch as seen")
    val oneShot = pairSet(Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4))
    // pairs touching the odd delta == what a pair-computing ingest of the
    // odds would have returned (the minhashIncremental contract)
    val deltaPairs = pairSet(Dedup.pairsForIds(spark, store.getAbsolutePath,
      odds.select(col("doc_id")), "doc_id", 0.4))
    assert(deltaPairs == oneShot.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1),
      s"missing=${(oneShot.filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
        -- deltaPairs).take(5)} extra=${(deltaPairs -- oneShot).take(5)}")
    // every id -> the full derive -> the one-shot set
    val allPairs = pairSet(Dedup.pairsForIds(spark, store.getAbsolutePath,
      docs.select(col("doc_id")), "doc_id", 0.4))
    assert(allPairs == oneShot)
    // ids the store never saw contribute nothing
    assert(Dedup.pairsForIds(spark, store.getAbsolutePath,
      spark.range(1000000, 1000010).select(col("id").as("doc_id")),
      "doc_id", 0.4).count() == 0L)
    // purged ids emit nothing; survivors' pair set is the survivor
    // restriction of one-shot
    Dedup.purgeMinhashStore(spark, store.getAbsolutePath,
      docs.where(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id")
    assert(Dedup.pairsForIds(spark, store.getAbsolutePath,
      docs.where(col("doc_id") % 3 === 0).select(col("doc_id")),
      "doc_id", 0.4).count() == 0L)
    val survivors = pairSet(Dedup.pairsForIds(spark, store.getAbsolutePath,
      docs.select(col("doc_id")), "doc_id", 0.4))
    assert(survivors == oneShot.filter(p => p._1 % 3 != 0 && p._2 % 3 != 0))
  }

  test("purgeMinhashStore: purged docs are fully forgotten (re-ingest " +
    "re-admits them, survivors untouched); only affected buckets " +
    "rewrite; idempotent; compaction is invisible") {
    import org.apache.hadoop.fs.Path
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_purge_spec_${System.nanoTime()}")
    store.deleteOnExit()
    Dedup.saveMinhashStore(docs, "doc_id", "text", store.getAbsolutePath)
    val fs = new Path(store.getAbsolutePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def partFiles(dir: String): Map[String, Seq[String]] =
      fs.listStatus(new Path(s"${store.getAbsolutePath}/$dir"))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("pb="))
        .map(pd => pd.getPath.getName ->
          fs.listStatus(pd.getPath).filter(_.isFile)
            .map(_.getPath.getName).toSeq.sorted)
        .toMap
    val before = partFiles("postings")
    val purgeIds = docs.where(col("doc_id") % 3 === 0).select(col("doc_id"))
    val touched = purgeIds
      .select(pmod(graft.functions.StableId63
        .stableId63(col("doc_id").cast("string")), lit(64L)).as("pb"))
      .distinct().collect().map(r => s"pb=${r.getLong(0)}").toSet
    val n = docs.where(col("doc_id") % 3 === 0).count()
    assert(Dedup.purgeMinhashStore(spark, store.getAbsolutePath,
      purgeIds, "doc_id") == n)
    // untouched buckets keep their exact files
    val after = partFiles("postings")
    before.keys.filterNot(touched).foreach { p =>
      assert(after(p) == before(p), s"untouched $p was rewritten")
    }
    // idempotent: nothing left matching
    assert(Dedup.purgeMinhashStore(spark, store.getAbsolutePath,
      purgeIds, "doc_id") == 0L)
    Dedup.compactMinhashStore(spark, store.getAbsolutePath)
    // purged docs re-ingest as NEW, and the pairs equal one-shot pairs
    // touching a purged doc — survivors' signatures must be intact
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val reIngested = pairSet(Dedup.minhashIncremental(
      docs.where(col("doc_id") % 3 === 0), "doc_id", "text",
      store.getAbsolutePath, 0.4))
    val expected = pairSet(Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4))
      .filter(p => p._1 % 3 == 0 || p._2 % 3 == 0)
    assert(reIngested == expected,
      s"missing=${(expected -- reIngested).take(5)} " +
        s"extra=${(reIngested -- expected).take(5)}")
    // the re-ingest appended a second file-set into surviving buckets;
    // compaction folds every bucket to one file WITHOUT changing what
    // the store knows (the same batch still reads as fully seen)
    Dedup.compactMinhashStore(spark, store.getAbsolutePath)
    partFiles("postings").foreach { case (p, files) =>
      assert(files.count(_.endsWith(".parquet")) <= 1, s"$p: $files")
    }
    assert(Dedup.minhashIncremental(docs, "doc_id", "text",
      store.getAbsolutePath, 0.4).count() == 0L)
  }

  test("minhashIncremental torn-append recovery: the batch's files " +
    "landed but the manifest flip did not -> the whole batch reads as " +
    "unseen, re-running returns the full pair set; no duplicate is ever " +
    "visible; vacuum reclaims the unflipped leftovers") {
    import org.apache.hadoop.fs.Path
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_torn_spec_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    val batch1 = docs.where(col("doc_id") % 2 === 0)
    val batch2 = docs.where(col("doc_id") % 2 === 1)
    Dedup.saveMinhashStore(batch1, "doc_id", "text", root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val clean = pairSet(Dedup.minhashIncremental(
      batch2, "doc_id", "text", root, 0.4))
    // simulate the crash window: the ingest's files all landed but the
    // manifest flip did not — on disk that is exactly "delete the flip"
    assert(fs.delete(new Path(s"$root/_manifest.v2"), false),
      "fixture expects the ingest to have committed _manifest.v2")
    // the whole batch is invisible -> it reads as UNSEEN and the re-run
    // returns the full pair set again (re-run IS the recovery)
    val recovered = pairSet(Dedup.minhashIncremental(
      batch2, "doc_id", "text", root, 0.4))
    assert(recovered == clean,
      s"missing=${(clean -- recovered).take(5)} " +
        s"extra=${(recovered -- clean).take(5)}")
    // no duplicate is ever VISIBLE: the manifest-resolved postings hold
    // every (doc, hv) exactly once even though the first attempt's
    // files still sit on disk as unlisted garbage
    Dedup.vacuumMinhashStore(spark, root)
    val p = spark.read.parquet(s"$root/postings")
    assert(p.count() == p.select("doc", "hv").distinct().count(),
      "duplicate postings visible after torn-ingest recovery + vacuum")
    // and the store now behaves fully seen
    assert(Dedup.minhashIncremental(docs, "doc_id", "text",
      root, 0.4).count() == 0L)
  }

  test("bandidx projection: a 1-doc ingest touches at most `bands` band " +
    "buckets (untouched partitions keep files+mtimes); the ingests' " +
    "pairs equal the bands/-only derivation; purge keeps the " +
    "projection exactly equal to bands/") {
    import org.apache.hadoop.fs.Path
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bandidx_spec_${System.nanoTime()}")
    base.deleteOnExit()
    val root = s"${base.getAbsolutePath}/store"
    val batch1 = docs.where(col("doc_id") % 2 === 0)
    val batch2 = docs.where(col("doc_id") % 2 === 1)
    Dedup.saveMinhashStore(batch1, "doc_id", "text", root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(s"$root/bandidx")))
    def idxState(): Map[String, Set[(String, Long, Long)]] =
      fs.listStatus(new Path(s"$root/bandidx")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bb="))
        .map(pd => pd.getPath.getName ->
          fs.listStatus(pd.getPath).toSeq.filter(_.isFile)
            .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
            .toSet)
        .toMap
    val before = idxState()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // a 1-doc delta has exactly 4 band keys -> it may append to at most
    // 4 of the 64 band buckets; every other partition stays byte- and
    // mtime-identical (the write side of the pruning contract)
    val oneDoc = batch2.orderBy("doc_id").limit(1).localCheckpoint()
    val p1 = pairSet(Dedup.minhashIncremental(
      oneDoc, "doc_id", "text", root, 0.4))
    val after = idxState()
    val touched = after.collect {
      case (k, v) if before.get(k).forall(_ != v) => k
    }.toSet
    assert(touched.size <= 4, s"1-doc delta touched ${touched.size} buckets")
    (before.keySet -- touched).foreach { k =>
      assert(after(k) == before(k), s"untouched $k was rewritten")
    }
    // the pruned projection path finds EXACTLY the pairs the store's
    // bands/ rows imply: derivePairsFromStore reads bands/ only (never
    // bandidx/), restricted to pairs touching a batch-2 doc
    val viaIdx = p1 ++ pairSet(Dedup.minhashIncremental(
      batch2, "doc_id", "text", root, 0.4))
    val viaBands = pairSet(Dedup.derivePairsFromStore(spark, root, 0.4))
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1)
    assert(viaBands.nonEmpty, "no batch-2 pairs — vacuous")
    assert(viaIdx == viaBands,
      s"missing=${(viaBands -- viaIdx).take(5)} " +
        s"extra=${(viaIdx -- viaBands).take(5)}")
    // purge keeps the projection EXACT: no purged doc survives in it,
    // and it equals bands/ row-for-row afterwards (vacuum first — the
    // copy-on-write purge leaves unlisted garbage the plain dir reads
    // below would otherwise see)
    Dedup.purgeMinhashStore(spark, root,
      docs.where(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id")
    Dedup.vacuumMinhashStore(spark, root)
    def bandRows(dir: String): Seq[(Long, Int, String)] =
      spark.read.parquet(s"$root/$dir").select("doc", "band", "bucket")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSeq.sorted
    assert(bandRows("bandidx") == bandRows("bands"),
      "bandidx diverged from bands/ after purge")
    assert(spark.read.parquet(s"$root/bandidx")
      .where(col("doc") % 3 === 0).count() == 0L)
  }

  test("derivePairsFromStore: the store alone regenerates exactly the " +
    "one-shot pair set, before and after a purge") {
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_derive_spec_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    Dedup.saveMinhashStore(docs, "doc_id", "text", root)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = pairSet(Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4))
    val derived = pairSet(Dedup.derivePairsFromStore(spark, root, 0.4))
    assert(derived == oneShot,
      s"missing=${(oneShot -- derived).take(5)} " +
        s"extra=${(derived -- oneShot).take(5)}")
    // after a purge the derivation sees only survivors
    Dedup.purgeMinhashStore(spark, root,
      docs.where(col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id")
    val survivors = docs.where(col("doc_id") % 3 =!= 0)
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4)) ==
      pairSet(Dedup.minhashDuplicates(survivors, "doc_id", "text", 0.4)))
    intercept[IllegalArgumentException] {
      Dedup.derivePairsFromStore(spark, root + "_nope", 0.4)
    }
  }

  test("store lifecycle property: a seeded-random interleaving of " +
    "ingest/purge/compact/vacuum keeps the store exactly equivalent to " +
    "its surviving corpus at every step boundary") {
    import spark.implicits._
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_prop_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    val rnd = new scala.util.Random(42)
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    def byIds(ids: Set[Long]) = docs.where(col("doc_id").isin(ids.toSeq: _*))
    var inStore = allIds.take(120).toSet
    Dedup.saveMinhashStore(byIds(inStore), "doc_id", "text", root)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (step <- 1 to 7) {
      rnd.nextInt(4) match {
        case 0 | 1 => // ingest a mixed batch (some seen, some new)
          val batch = rnd.shuffle(allIds.toSeq).take(80).toSet
          Dedup.minhashIncremental(byIds(batch), "doc_id", "text", root, 0.4)
          inStore = inStore ++ batch
        case 2 => // purge a mixed set (some present, some unknown)
          val victims = rnd.shuffle(allIds.toSeq).take(40).toSet
          val expected = (victims intersect inStore).size.toLong
          assert(Dedup.purgeMinhashStore(spark, root,
            victims.toSeq.toDF("doc_id"), "doc_id") == expected,
            s"step $step: purge count off")
          inStore = inStore -- victims
        case 3 =>
          Dedup.compactMinhashStore(spark, root)
          if (rnd.nextBoolean()) Dedup.vacuumMinhashStore(spark, root)
      }
      // invariant: the store IS its surviving corpus — derived pairs
      // equal one-shot minhashDuplicates over exactly the docs in store
      val derived = pairSet(Dedup.derivePairsFromStore(spark, root, 0.4))
      val oneShot = pairSet(Dedup.minhashDuplicates(
        byIds(inStore), "doc_id", "text", 0.4))
      assert(derived == oneShot,
        s"step $step: missing=${(oneShot -- derived).take(5)} " +
          s"extra=${(derived -- oneShot).take(5)}")
    }
    // everything in the store reads as seen; nothing outside does
    assert(Dedup.minhashIncremental(byIds(inStore), "doc_id", "text",
      root, 0.4).count() == 0L, "an in-store doc read as unseen")
  }

  test("snapshot reads: a version-pinned derive equals one-shot dedup " +
    "over that version's corpus (the pre-purge pair set is readable " +
    "AFTER the purge); vacuum's keepVersions bounds the window and an " +
    "out-of-window pin refuses naming the retained versions") {
    import spark.implicits._
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_asof_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val survivors = docs.where(col("doc_id") % 3 =!= 0)
    Dedup.saveMinhashStore(evens, "doc_id", "text", root) // v1
    Dedup.minhashIncremental(odds, "doc_id", "text", root, 0.4).count() // v2
    Dedup.purgeMinhashStore(spark, root,
      docs.where(col("doc_id") % 3 === 0).select("doc_id"), "doc_id") // v3
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, root), root) == Seq(1, 2, 3))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def oneShot(d: org.apache.spark.sql.DataFrame) =
      pairSet(Dedup.minhashDuplicates(d, "doc_id", "text", 0.4))
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4, Some(1))) ==
      oneShot(evens), "v1 snapshot must be the bootstrap corpus")
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4, Some(2))) ==
      oneShot(docs), "v2 snapshot must see the full pre-purge corpus")
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4)) ==
      oneShot(survivors), "latest must see only purge survivors")
    // keepVersions = 2: v2 stays fully derivable, v1 leaves the window
    Dedup.vacuumMinhashStore(spark, root, keepVersions = 2)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, root), root) == Seq(2, 3))
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4, Some(2))) ==
      oneShot(docs), "retained snapshot must survive the vacuum intact")
    val e = intercept[IllegalArgumentException](
      Dedup.derivePairsFromStore(spark, root, 0.4, Some(1)))
    assert(e.getMessage.contains("v1") && e.getMessage.contains("2,3"),
      s"out-of-window pin must name the retained versions: ${e.getMessage}")
    // default vacuum: history collapses to the present
    Dedup.vacuumMinhashStore(spark, root)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, root), root) == Seq(3))
    intercept[IllegalArgumentException](
      Dedup.derivePairsFromStore(spark, root, 0.4, Some(2)))
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4)) ==
      oneShot(survivors), "the present must be untouched by retention")
  }

  test("rebucketMinhashStore: pairs byte-identical across the re-bucket, " +
    "the new counts route later ingests, and a pre-rebucket pin still " +
    "resolves the OLD layout") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_rebucket_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    // a store whose deltas OUTGREW its counts: 2 band buckets
    Dedup.saveMinhashStore(evens, "doc_id", "text", root,
      storeBuckets = 4, bandBuckets = 2) // v1
    Dedup.minhashIncremental(odds, "doc_id", "text", root, 0.4).count() // v2
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = pairSet(Dedup.derivePairsFromStore(spark, root, 0.4))
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    Dedup.rebucketMinhashStore(spark, root,
      storeBuckets = 64, bandBuckets = 64) // v3
    assert(graft.operators.StoreSwap.readLayoutAt(fs, root, 3) ==
      Map("pb" -> 64, "bb" -> 64))
    assert(graft.operators.StoreSwap.readLayoutAt(fs, root, 2) ==
      Map("pb" -> 4, "bb" -> 2),
      "the pre-rebucket pin must resolve the OLD layout (floor rule)")
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4)) == before,
      "re-bucketing changed the derived pairs")
    assert(pairSet(Dedup.derivePairsFromStore(spark, root, 0.4,
      asOfVersion = Some(2))) == before,
      "the pinned pre-rebucket snapshot broke")
    // later verbs route with the NEW counts: a 1-doc probe equals the
    // one-shot restriction, and purge still routes from ids alone
    val one = pairSet(Dedup.pairsForIds(spark, root,
      Seq(0L).toDF("doc_id"), "doc_id", 0.4))
    assert(one == before.filter(p => p._1 == 0L || p._2 == 0L))
    Dedup.vacuumMinhashStore(spark, root)
    assert(Dedup.purgeMinhashStore(spark, root,
      Seq(0L).toDF("doc_id"), "doc_id") == 1L)
    assert(!pairSet(Dedup.derivePairsFromStore(spark, root, 0.4))
      .exists(p => p._1 == 0L || p._2 == 0L))
  }

  test("a store with no resolvable layout refuses: pairsForIds names " +
    "the path and version instead of routing with default 64/64 " +
    "buckets") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_nolayout_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    Dedup.saveMinhashStore(docs, "doc_id", "text", root,
      storeBuckets = 4, bandBuckets = 2)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new Path(root)).map(_.getPath.getName).toSet
    assert(names.contains("_layout.v1") && !names.contains("_layout"),
      s"a fresh save writes the versioned layout only: $names")
    names.filter(_.contains("_layout")).foreach(n =>
      fs.delete(new Path(s"$root/$n"), false))
    val e = intercept[IllegalArgumentException](Dedup.pairsForIds(spark,
      root, Seq(0L).toDF("doc_id"), "doc_id", 0.4).collect())
    assert(e.getMessage.contains(root) && e.getMessage.contains("k <= 1"),
      e.getMessage)
  }

  test("manifest isolation: a reader pinned mid-purge sees the old " +
    "consistent file-set (never a gap); a crash before the flip is " +
    "invisible and re-running heals; unknown-id purge touches nothing; " +
    "vacuum reclaims only unlisted garbage") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val store = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_minhash_manifest_spec_${System.nanoTime()}")
    store.deleteOnExit()
    val root = store.getAbsolutePath
    Dedup.saveMinhashStore(docs, "doc_id", "text", root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def manifests(): Seq[String] = fs.listStatus(new Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("_manifest.v")).sorted
    def manifestFiles(name: String): Seq[String] = {
      val in = fs.open(new Path(s"$root/$name"))
      // entries are `relpath<TAB>bytes` since the sized-manifest format
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.split("\t")(0)).toList
      finally in.close()
    }
    assert(manifests() == Seq("_manifest.v1"))
    // PIN a reader on the v1 file-set exactly as the library resolves
    // it (lazy frame over the manifest's postings files)
    val pinnedFiles = manifestFiles("_manifest.v1")
      .filter(_.startsWith("postings/")).map(f => s"$root/$f")
    val pinned = spark.read.option("basePath", s"$root/postings")
      .parquet(pinnedFiles: _*)
    val prePurge = docs.count()
    val purgeIds = docs.where(col("doc_id") % 3 === 0).select(col("doc_id"))
    val nPurged = docs.where(col("doc_id") % 3 === 0).count()
    assert(Dedup.purgeMinhashStore(spark, root, purgeIds, "doc_id")
      == nPurged)
    assert(manifests() == Seq("_manifest.v1", "_manifest.v2"))
    // the pinned reader still resolves: every v1 file exists (the purge
    // was copy-on-write), and the content is the OLD consistent set
    assert(pinned.select("doc").distinct().count() == prePurge,
      "pinned reader lost files mid-purge")
    def visibleDocs(): Set[Long] = {
      val files = manifestFiles(manifests().last)
        .filter(_.startsWith("postings/")).map(f => s"$root/$f")
      spark.read.option("basePath", s"$root/postings").parquet(files: _*)
        .select("doc").distinct().collect().map(_.getLong(0)).toSet
    }
    val survivors = docs.where(col("doc_id") % 3 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(visibleDocs() == survivors)
    // crash-before-flip: dropping the v2 manifest IS the on-disk state
    // a crash between the purge's rewrites and its flip leaves —
    // rewrite files present but unlisted, v1 latest again
    fs.delete(new Path(s"$root/_manifest.v2"), false)
    assert(visibleDocs().size.toLong == prePurge,
      "unflipped rewrite files leaked into the visible set")
    // re-running the same purge is the recovery
    assert(Dedup.purgeMinhashStore(spark, root, purgeIds, "doc_id")
      == nPurged)
    assert(visibleDocs() == survivors)
    // unknown-id purge: zero removed, zero bytes written, no flip
    def fileState(): Set[(String, Long, Long)] =
      Seq("postings", "bands", "bandidx").flatMap { d =>
        fs.listStatus(new Path(s"$root/$d")).toSeq.filter(_.isDirectory)
          .flatMap(pd => fs.listStatus(pd.getPath).toSeq.filter(_.isFile)
            .map(f => (s"$d/${pd.getPath.getName}/${f.getPath.getName}",
              f.getLen, f.getModificationTime)))
      }.toSet
    val before = fileState()
    val mfBefore = manifests()
    assert(Dedup.purgeMinhashStore(spark, root,
      Seq(900000001L, 900000002L).toDF("doc_id"), "doc_id") == 0L)
    assert(fileState() == before, "no-op purge rewrote store files")
    assert(manifests() == mfBefore, "no-op purge flipped the manifest")
    // vacuum drops exactly the unlisted garbage (the crash leftovers
    // and superseded rewrite inputs) and the store still answers
    assert(Dedup.vacuumMinhashStore(spark, root) > 0L)
    val listed = manifestFiles(manifests().last).toSet
    Seq("postings", "bands", "bandidx").foreach { d =>
      fs.listStatus(new Path(s"$root/$d")).toSeq.filter(_.isDirectory)
        .flatMap(pd => fs.listStatus(pd.getPath).toSeq.filter(_.isFile)
          .map(f => s"$d/${pd.getPath.getName}/${f.getPath.getName}"))
        .foreach(rel => assert(listed.contains(rel), s"garbage survived: $rel"))
    }
    assert(visibleDocs() == survivors)
    // purged docs re-ingest as new against the vacuumed store
    assert(Dedup.minhashIncremental(docs.where(col("doc_id") % 3 === 0),
      "doc_id", "text", root, 0.4).count() ==
      Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4)
        .where(col("d1") % 3 === 0 || col("d2") % 3 === 0).count())
  }

  test("overlapMatrix: shared shingles + jaccard per group pair, sparse, null-safe") {
    import spark.implicits._
    // a: shingles {w1 w2 w3, w2 w3 w4} ; b shares exactly {w2 w3 w4} and
    // adds {w3 w4 w5}; c is disjoint; null group must not appear at all
    val df = Seq(
      (Some("a"), "w1 w2 w3 w4"),          // shingles: w1w2w3, w2w3w4
      (Some("b"), "w2 w3 w4 w5"),          // shingles: w2w3w4, w3w4w5
      (Some("c"), "x1 x2 x3"),             // shingle:  x1x2x3
      (Option.empty[String], "w1 w2 w3"))  // would fake a-overlap if kept
      .toDF("source", "text")
    val out = Dedup.overlapMatrix(df, "source", "text", ngram = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // only the overlapping pair appears; jaccard = 1 shared / (2+2-1)
    assert(out.keySet == Set(("a", "b")), out.keySet.toString)
    assert(out(("a", "b")) == ((2L, 2L, 1L, 0.333333)))
    // duplicate shingles within a group count once (DISTINCT contract)
    val dup = Seq(("a", "w1 w2 w3 w2 w3"), ("b", "w1 w2 w3"))
      .toDF("source", "text")
    val o2 = Dedup.overlapMatrix(dup, "source", "text", ngram = 3).collect()
    assert(o2.length == 1 && o2(0).getLong(4) == 1L) // w1w2w3 once
    intercept[IllegalArgumentException] {
      Dedup.overlapMatrix(df, "source", "text", ngram = 0)
    }
  }

  test("noveltyScore: verbatim 0, partial overlap exact, unseen 1, short docs absent") {
    import spark.implicits._
    val ref = Seq((100L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "w1 w2 w3 w4"),    // both shingles seen -> novelty 0
      (2L, "w1 w2 w3 x y"),   // 1 of 3 shingles seen -> 1 - 1/3
      (3L, "p q r s"),        // fully novel -> 1.0
      (4L, "a b"))            // < ngram tokens -> no shingles -> absent
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScore(corpus, ref, "doc_id", "text", ngram = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 2L, 0.0)))
    assert(out(2L) == ((3L, 1L, 0.666667)))
    assert(out(3L) == ((2L, 0L, 1.0)))
    assert(!out.contains(4L))
  }

  test("containmentPairs: quote inside a long doc scores 1.0 one way, " +
    "low the other; unrelated docs never pair; threshold filters") {
    import spark.implicits._
    val long1 = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens of long1
    val df = Seq(
      (1L, long1),
      (2L, quote),
      (3L, "x1 x2 x3 x4 x5 x6")) // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.5,
      ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // quote: 8 shingles, all inside long1's 28 -> containment 1.0
    assert(out((2L, 1L)) == ((8L, 1.0)))
    // reverse direction: 8/28 = 0.285714 < 0.5 -> filtered out
    assert(!out.contains((1L, 2L)))
    assert(out.keySet == Set((2L, 1L))) // doc 3 pairs with nothing
    // threshold 0.2 admits the reverse direction too, exactly
    val lo = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.2,
      ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(lo((1L, 2L)) == 0.285714)
  }

  test("containmentPairs prefix filtering is EXACT: equals the brute-force " +
    "all-pairs answer, including saturated all-common-shingle corpora") {
    import spark.implicits._
    // adversarial mix: identical docs (every shingle df = high), quotes,
    // overlapping windows, and unique docs — seeded, deterministic
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 12).map(i => s"v$i")
    val base = (0L until 30L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val clones = (0L until 8L).map(i => (100L + i, base(2)._2)) // 9 identical
    val df = (base ++ clones).toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.9, 1.0)) {
      val got = Dedup.containmentPairs(df, "doc_id", "text", tau, ngram = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // brute force straight from the definition (test-local recompute)
      def shingles(t: String): Set[String] =
        t.trim.split("\\s+").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      val sets = (base ++ clones).map { case (id, t) => id -> shingles(t) }.toMap
      val want = (for {
        (s1, a) <- sets.toSeq; (s2, b) <- sets.toSeq
        if s1 != s2 && a.nonEmpty
        c = (a intersect b).size.toDouble / a.size
        if c >= tau
      } yield (s1, s2) -> c).toMap
      assert(got.keySet == want.keySet,
        s"tau=$tau: got ${got.keySet.size} pairs, want ${want.keySet.size}")
      want.foreach { case (k, c) =>
        assert(math.abs(got(k) - c) < 1e-6, s"tau=$tau pair $k")
      }
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", threshold = 1.5)
    }
  }

  test("containmentPairs: exactly-integer (1-tau)*n never under-probes " +
    "(the float-floor hazard at the threshold boundary)") {
    import spark.implicits._
    // src has exactly 10 shingles (12 tokens); dst misses exactly one of
    // them -> containment 0.9 == tau must be REPORTED (p must be 2, not 1)
    val srcTokens = (1 to 12).map(i => s"t$i")
    val dstTokens = (1 to 11).map(i => s"t$i") // drops the last shingle
    val df = Seq((1L, srcTokens.mkString(" ")), (2L, dstTokens.mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9,
      ngram = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out((1L, 2L)) == 0.9) // 9 of 10 shingles -> exactly tau
    assert(out((2L, 1L)) == 1.0)
  }

  test("nearDupKeepBest: one row per cluster, best quality wins (tie -> " +
    "smallest id), singletons survive as themselves") {
    import spark.implicits._
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val b = "b1 b2 b3 b4 b5 b6"
    val df = Seq(
      (1L, a, 10L), (2L, a, 50L), (3L, a, 20L), // cluster 1: rep 2 (quality)
      (4L, b, 7L), (5L, b, 7L),                 // cluster 4: tie -> rep 4
      (6L, "u1 u2 u3 u4 u5", 99L))              // singleton
      .toDF("doc_id", "text", "n_chars")
    val out = Dedup.nearDupKeepBest(df, "doc_id", "text", "n_chars", 0.4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((2L, 3L)), 4L -> ((4L, 2L)), 6L -> ((6L, 1L))))
  }

  test("nearDupKeepBest invariants on real documents: members partition " +
    "the corpus, reps belong to their cluster, labels agree with the " +
    "component stage") {
    val out = Dedup.nearDupKeepBest(docs, "doc_id", "text", "n_chars", 0.4)
    val total = docs.count()
    assert(out.agg(sum("n_members")).head().getLong(0) == total)
    assert(out.select("component").distinct().count() == out.count())
    // every rep's own label is its row's component
    val pairs = Dedup.minhashDuplicates(docs, "doc_id", "text", 0.4)
      .select(col("d1"), col("d2"))
    val labels = Dedup.componentsAuto(docs.select("doc_id"), "doc_id", pairs)
    val mismatches = out.join(labels, out("rep") === labels("doc"))
      .where(out("component") =!= labels("component"))
    assert(mismatches.count() == 0)
  }

  test("nearDupKeepBest adaptive route: a candidate-dense near-dup " +
    "clique of DISTINCT texts labels exactly like the one-pass " +
    "pair-list + components composition") {
    import spark.implicits._
    // 50 mutually-similar distinct texts (shared filler, unique tail
    // token: pairwise Jaccard ~0.7) force C(50,2) LSH candidates over
    // 60 leaders — past AdaptiveVerifyRatio, so the adaptive rounds
    // run; 10 isolated docs must stay singletons through it
    val filler = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = (0L until 60L).map { i =>
      val text = if (i < 50) s"$filler unique$i"
        else s"isolated$i totally unrelated words x${i}a y${i}b z${i}c"
      (i, text, (i % 7).toInt)
    }
    val cdocs = rows.toDF("doc_id", "text", "q")
    val out = Dedup.nearDupKeepBest(cdocs, "doc_id", "text", "q", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: full pair list -> components -> keep-best in Scala
    val pairs = Dedup.minhashDuplicates(cdocs, "doc_id", "text", 0.4)
      .select(col("d1"), col("d2"))
    val labels = Dedup.componentsAuto(cdocs.select(col("doc_id")),
        "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = rows.map(r => r._1 -> r._3).toMap
    val want = labels.groupBy(_._2).map { case (comp, ms) =>
      val members = ms.keys.toSeq
      val rep = members.minBy(d => (-q(d), d))
      (comp, rep, members.size.toLong)
    }.toSet
    assert(out == want)
    // the clique collapsed to ONE cluster of 50 and 10 singletons
    assert(out.size == 11 && out.exists(_._3 == 50L))
  }

  test("dupRateByGroup: normalized-fingerprint duplicate share per group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "x"), (2L, "s1", "  X "), (3L, "s1", "y"),
      (4L, "s2", "a"), (5L, "s2", "b"))
      .toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup
      .dupRateByGroup(docs, "doc_id", "text", "source")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // s1: "x" and "  X " normalize identically -> 2 distinct of 3
    assert(out.toSeq == Seq(("s1", 3L, 2L, 0.333333), ("s2", 2L, 2L, 0.0)),
      out.mkString(","))
  }

  test("goldenRecord: modal non-null survivorship, ties to smallest, " +
    "null never votes") {
    import spark.implicits._
    val df = Seq(
      (1L, "A", Some("en"), Some("s1")),
      (2L, "A", Some("de"), Some("s1")),
      (3L, "A", Some("en"), Option.empty[String]),
      (4L, "B", Some("fr"), Some("x")),
      (5L, "B", Some("it"), Some("y")),
      (6L, "C", Option.empty[String], Option.empty[String]))
      .toDF("id", "cl", "lang", "source")
    val out = graft.operators.Dedup
      .goldenRecord(df, "id", "cl", Seq("lang", "source"))
      .orderBy("cluster").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4))))
    assert(out.toSeq == Seq(
      ("A", 1L, 3L, Some("en"), Some("s1")),   // en 2-1; s1 2-0 (null mute)
      ("B", 4L, 2L, Some("fr"), Some("x")),    // ties -> min value
      ("C", 6L, 1L, None, None)),              // nobody voted -> null
      out.mkString("\n"))
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.goldenRecord(df, "id", "cl", Seq())
    }
  }

  test("sortedNeighborhoodPairs: prefix-sorted neighbors verify by exact " +
    "jaccard; beyond-window pairs are the documented miss") {
    import spark.implicits._
    // docs 1 and 2 share a long prefix (same block, adjacent after sort);
    // doc 9 is near-identical to 1 but its normalized key starts
    // differently -> different block -> never a candidate (that's LSH's
    // job, not SNM's)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta one two three"),
      (2L, "alpha beta gamma delta epsilon zeta one two four"),
      (3L, "omega psi chi phi upsilon tau completely different"),
      (9L, "ALPHA   beta gamma delta epsilon zeta one two three x"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.sortedNeighborhoodPairs(
      docs, "doc_id", "text", blockLen = 12, windowW = 3, threshold = 0.3)
      .orderBy("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 9 normalizes into the same "alpha beta g" block: candidates are
    // (1,2) j=0.75, (1,9) j=6/9, (2,9) j=5/10 — all pass 0.3
    assert(out.toSeq == Seq((1L, 2L), (1L, 9L), (2L, 9L)), out.mkString(","))
    // a tighter threshold drops (2,9): shingling is raw-case, so doc 9's
    // "ALPHA" head shingle never matches
    val tight = graft.operators.Dedup.sortedNeighborhoodPairs(
      docs, "doc_id", "text", 12, 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L), (1L, 9L)), tight.toString)
    // window w=1 pairs each doc only with its immediate sort neighbor:
    // (1,9) sorts between-adjacent? keys: "alpha beta gamma delta
    // epsilon zeta one two four" (2) < "... three" (1) < "... three x"
    // (9), so w=1 gives (2,1) and (1,9) — (2,9) is beyond the window
    val w1 = graft.operators.Dedup.sortedNeighborhoodPairs(
      docs, "doc_id", "text", blockLen = 12, windowW = 1, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w1 == Set((1L, 2L), (1L, 9L)), w1.toString)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.sortedNeighborhoodPairs(
        docs, "doc_id", "text", 0, 3, 0.3)
    }
  }
}
