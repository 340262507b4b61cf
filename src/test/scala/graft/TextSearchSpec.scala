package graft

import org.apache.spark.sql.functions._

import graft.operators.{StoreSwap, TextSearch}

/** BM25 top-k retrieval: the engine-exact score contract (idf rounded
  * half-up at 6 decimals pre-multiply, 10·TL-scaled tf ratio with fixed
  * left association, micro-unit contribution sum) against hand-computed
  * values, tie/caps semantics, and the no-explode/no-shuffle plan shape
  * the 100 TB design claims. */
class TextSearchSpec extends SparkSpec {

  import spark.implicits._

  // N=4, TL=10; idf(apple)=idf(cherry)=round(ln(5/2.5),6)=0.693147.
  // den = 10·TL·tf + 3·TL + 9·dl·N = 100·tf + 30 + 36·dl.
  private def corpus = Seq(
    (1L, "Apple banana APPLE"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry apple"),
    (4L, "durian")
  ).toDF("doc_id", "text")

  test("multi-term scores match the hand-computed micro-unit contract") {
    val got = TextSearch.bm25TopK(corpus, "doc_id", "text",
        Seq("apple", "cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc1: apple tf=2 -> round(.693147*200/338,6)=.410146; cherry tf=0
    // doc2: cherry tf=1 -> round(.693147*100/202,6)=.343142
    // doc3: apple 100/274 + cherry 300/474 -> .252984+.438690=.691674
    // doc4: shares no term -> absent
    assert(got.toSeq === Seq(
      (3L, 2L, 0.691674), (1L, 1L, 0.410146), (2L, 1L, 0.343142)))
  }

  test("case-insensitive query terms, duplicates and blanks dropped") {
    val got = TextSearch.bm25TopK(corpus, "doc_id", "text",
        Seq(" APPLE ", "apple", "", "Cherry"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq === Seq((3L, 0.691674), (1L, 0.410146), (2L, 0.343142)))
  }

  test("score ties break by ascending doc id and k cuts inside the tie") {
    val dup = Seq(
      (10L, "alpha beta"), (7L, "alpha beta"), (9L, "alpha beta"),
      (8L, "gamma")
    ).toDF("doc_id", "text")
    val got = TextSearch.bm25TopK(dup, "doc_id", "text", Seq("alpha"), k = 2)
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(7L, 9L))
  }

  test("a term absent from the corpus contributes exactly zero") {
    val got = TextSearch.bm25TopK(corpus, "doc_id", "text",
        Seq("apple", "cherry", "zzz_absent"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // idf(zzz)=round(ln(5/0.5),6) but tf=0 everywhere -> contribution
    // 0.000000, n_hit unchanged, same scores as the two-term query.
    assert(got.toSeq === Seq(
      (3L, 2L, 0.691674), (1L, 1L, 0.410146), (2L, 1L, 0.343142)))
  }

  test("caps: empty terms, >64 terms, non-positive k all refuse") {
    intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(corpus, "doc_id", "text", Seq("  ", ""), k = 5)
    }
    intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(corpus, "doc_id", "text",
        (1 to 65).map(i => s"t$i"), k = 5)
    }
    intercept[IllegalArgumentException] {
      TextSearch.bm25TopK(corpus, "doc_id", "text", Seq("apple"), k = 0)
    }
  }

  test("batch: each probe's slice equals the single-probe result exactly") {
    // overlapping terms across probes (apple in two, cherry in two) —
    // the broadcast fan-out must not leak one probe's tf into another's
    val probeDefs = Seq(
      (0L, Seq("apple", "cherry")),
      (1L, Seq("apple")),
      (2L, Seq("cherry", "durian")))
    val probes = probeDefs.toDF("probe", "terms")
    val batch = TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
        probes, "probe", "terms", k = 10)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    probeDefs.foreach { case (pid, terms) =>
      val single = TextSearch.bm25TopK(corpus, "doc_id", "text", terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sorted
      assert(batch.getOrElse(pid, Seq.empty) === single, s"probe $pid")
    }
  }

  test("batch: k cuts per probe with the (score desc, doc asc) tie-break") {
    val dup = Seq(
      (10L, "alpha beta"), (7L, "alpha beta"), (9L, "alpha beta"),
      (8L, "gamma")
    ).toDF("doc_id", "text")
    val probes = Seq((1L, Seq("alpha")), (2L, Seq("gamma"))).toDF("probe", "terms")
    val got = TextSearch.bm25TopKBatch(dup, "doc_id", "text",
        probes, "probe", "terms", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq((1L, 7L), (1L, 9L), (2L, 8L)))
  }

  test("batch: caps and degenerate inputs refuse loudly") {
    intercept[IllegalArgumentException] { // empty probe table
      TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
        Seq.empty[(Long, Seq[String])].toDF("probe", "terms"),
        "probe", "terms", k = 5)
    }
    intercept[IllegalArgumentException] { // a probe with only blanks
      TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
        Seq((1L, Seq(" ", ""))).toDF("probe", "terms"), "probe", "terms", 5)
    }
    intercept[IllegalArgumentException] { // duplicate probe ids
      TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
        Seq((1L, Seq("a")), (1L, Seq("b"))).toDF("probe", "terms"),
        "probe", "terms", 5)
    }
    intercept[IllegalArgumentException] { // per-probe term cap
      TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
        Seq((1L, (1 to 65).map(i => s"t$i"))).toDF("probe", "terms"),
        "probe", "terms", 5)
    }
  }

  test("batch plan gate: constant job count in |probes|, one broadcast " +
      "fan-out, TopKPerKey, no sort-merge join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def jobsFor(probeDefs: Seq[(Long, Seq[String])]): (Int, String) = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = TextSearch.bm25TopKBatch(docs, "doc_id", "text",
          probeDefs.toDF("probe", "terms"), "probe", "terms", k = 5)
        df.collect()
        org.apache.spark.sql.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
        (counter.get(), df.queryExecution.executedPlan.toString)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (jobs2, plan) = jobsFor(Seq(
      (0L, Seq("spark", "join")), (1L, Seq("vector"))))
    val (jobs6, _) = jobsFor(Seq(
      (0L, Seq("spark", "join")), (1L, Seq("vector")),
      (2L, Seq("table", "join")), (3L, Seq("data")),
      (4L, Seq("quality", "spark")), (5L, Seq("join", "data", "vector"))))
    assert(jobs2 == jobs6,
      s"job count must not grow with probes: $jobs2 vs $jobs6")
    assert(plan.contains("TopKPerKey"), s"expected per-probe heaps:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe-term fan-out:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"wide join leaked into the batch plan:\n$plan")
  }

  test("indexed: saved stats answer identically to the live stats pass") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", dir.getAbsolutePath)
    // absent term included: df must resolve to 0 through the stats path
    // exactly as it does live
    for (terms <- Seq(Seq("apple", "cherry"), Seq("apple", "zzz_absent"),
        Seq("banana"))) {
      val live = TextSearch.bm25TopK(corpus, "doc_id", "text", terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val saved = TextSearch.bm25TopKIndexed(corpus, "doc_id", "text",
          dir.getAbsolutePath, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(saved === live, s"terms=$terms")
    }
    // the df lookup is a pushdown-pruned scan, not a full stats read
    val spark2 = spark
    val stats = spark2.read.parquet(s"$dir/terms")
      .where(col("term").isin("apple", "cherry"))
    val scan = stats.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [In(term"),
      s"term filter must reach the parquet scan:\n$scan")
    // stats that sum to an empty corpus refuse loudly (partials are
    // legal — all-zero partials are not a searchable snapshot)
    val bad = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_bad_${System.nanoTime()}")
    bad.deleteOnExit()
    import spark.implicits._
    Seq((0L, 0L), (0L, 0L)).toDF("n", "tl")
      .write.parquet(s"$bad/corpus")
    spark.read.parquet(s"$dir/terms").write.parquet(s"$bad/terms")
    def searchBad() = TextSearch.bm25TopKIndexed(corpus, "doc_id", "text",
      bad.getAbsolutePath, Seq("apple"), k = 5)
    // hand-written files without a manifest are not a stats store
    val noMf = intercept[IllegalArgumentException](searchBad())
    assert(noMf.getMessage.contains("no store manifest"), noMf.getMessage)
    // committed over a manifest, the empty-corpus validation fires
    val fs = StoreSwap.fsOf(spark, bad.getAbsolutePath)
    StoreSwap.commitManifest(fs, bad.getAbsolutePath, 1,
      Seq("corpus", "terms").flatMap(
        StoreSwap.listDirFiles(fs, bad.getAbsolutePath, _)))
    val empty = intercept[IllegalArgumentException](searchBad())
    assert(empty.getMessage.contains("stats describe an empty corpus"),
      empty.getMessage)
  }

  test("appendCorpusStats: merged stats answer EXACTLY like a one-shot " +
      "rebuild over the grown corpus; empty delta is a no-op; a " +
      "non-stats target refuses before writing") {
    val grown = corpus.union(Seq(
      (5L, "apple durian durian"),
      (6L, "cherry banana apple apple")).toDF("doc_id", "text"))
    val merged = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_append_${System.nanoTime()}")
    merged.deleteOnExit()
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", merged.getAbsolutePath)
    TextSearch.appendCorpusStats(grown.where(col("doc_id") > 4L),
      "doc_id", "text", merged.getAbsolutePath)
    val oneShot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_oneshot_${System.nanoTime()}")
    oneShot.deleteOnExit()
    TextSearch.saveCorpusStats(grown, "doc_id", "text", oneShot.getAbsolutePath)
    def rows(path: String, terms: Seq[String]) =
      TextSearch.bm25TopKIndexed(grown, "doc_id", "text", path, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // overlap terms (apple/cherry df spans both halves), delta-only
    // terms (durian count grows), and absent terms all agree
    for (terms <- Seq(Seq("apple", "cherry"), Seq("durian"),
        Seq("banana", "zzz_absent"))) {
      assert(rows(merged.getAbsolutePath, terms) ===
        rows(oneShot.getAbsolutePath, terms), s"terms=$terms")
    }
    // empty delta: stats unchanged (same answers as before the append)
    val before = rows(merged.getAbsolutePath, Seq("apple", "cherry"))
    TextSearch.appendCorpusStats(grown.where(col("doc_id") < 0L),
      "doc_id", "text", merged.getAbsolutePath)
    assert(rows(merged.getAbsolutePath, Seq("apple", "cherry")) === before)
    // a directory that is not a stats layout refuses before mutation
    val notStats = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_notstats_${System.nanoTime()}")
    notStats.deleteOnExit()
    corpus.write.parquet(s"$notStats/corpus")
    val e = intercept[IllegalArgumentException] {
      TextSearch.appendCorpusStats(corpus, "doc_id", "text",
        notStats.getAbsolutePath)
    }
    assert(e.getMessage.contains("saveCorpusStats layout"))
  }

  test("purgeCorpusStats: purged stats answer EXACTLY like a rebuild " +
      "over the survivors — including a term whose df reaches 0 — and " +
      "compose with compaction; a non-stats target refuses") {
    // purge doc 4: 'durian' df drops 1 -> 0 (scores like absent);
    // purge doc 3: cherry's df and the heaviest dl both change
    val survivors = corpus.where(col("doc_id") =!= 3L && col("doc_id") =!= 4L)
    val purged = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_purge_${System.nanoTime()}")
    purged.deleteOnExit()
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", purged.getAbsolutePath)
    TextSearch.purgeCorpusStats(
      corpus.where(col("doc_id") === 3L || col("doc_id") === 4L),
      "doc_id", "text", purged.getAbsolutePath)
    val oneShot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_purge_oneshot_${System.nanoTime()}")
    oneShot.deleteOnExit()
    TextSearch.saveCorpusStats(survivors, "doc_id", "text",
      oneShot.getAbsolutePath)
    def rows(path: String, terms: Seq[String]) =
      TextSearch.bm25TopKIndexed(survivors, "doc_id", "text", path, terms,
        k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (terms <- Seq(Seq("apple", "cherry"), Seq("durian"),
        Seq("banana", "zzz_absent"))) {
      assert(rows(purged.getAbsolutePath, terms) ===
        rows(oneShot.getAbsolutePath, terms), s"terms=$terms")
    }
    // df=0 'durian' really does score like an absent term
    assert(rows(purged.getAbsolutePath, Seq("durian")) ===
      rows(purged.getAbsolutePath, Seq("zzz_absent")))
    // compaction folds the negative partials without changing answers
    val before = rows(purged.getAbsolutePath, Seq("apple", "cherry"))
    TextSearch.compactCorpusStats(spark, purged.getAbsolutePath)
    assert(rows(purged.getAbsolutePath, Seq("apple", "cherry")) === before)
    // non-stats layout refuses before mutation
    val notStats = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_purge_notstats_${System.nanoTime()}")
    notStats.deleteOnExit()
    corpus.write.parquet(s"$notStats/corpus")
    val e = intercept[IllegalArgumentException] {
      TextSearch.purgeCorpusStats(corpus, "doc_id", "text",
        notStats.getAbsolutePath)
    }
    assert(e.getMessage.contains("saveCorpusStats layout"))
  }

  test("stats manifest isolation: a torn purge is INVISIBLE (no sagging " +
      "half-state — the old careful move-order bound is superseded); " +
      "re-running heals; a reader pinned mid-mutation keeps the old " +
      "consistent partials; vacuum reclaims only garbage") {
    import org.apache.hadoop.fs.Path
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_torn_${System.nanoTime()}")
    dir.deleteOnExit()
    val root = dir.getAbsolutePath
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def manifests(): Seq[String] = fs.listStatus(new Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_manifest.v")).sorted.toSeq
    def manifestFiles(name: String): Seq[String] = {
      val in = fs.open(new Path(s"$root/$name"))
      // entries are `relpath<TAB>bytes` since the sized-manifest format
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(_.split("\t")(0)).toList
      finally in.close()
    }
    // PIN a reader on the v1 corpus partials exactly as readStats
    // resolves them
    val pinnedFiles = manifestFiles("_manifest.v1")
      .filter(_.startsWith("corpus/")).map(f => s"$root/$f")
    val pinned = spark.read.option("basePath", s"$root/corpus")
      .parquet(pinnedFiles: _*)
    val survivors = corpus.where(col("doc_id") < 3L)
    def scores() =
      TextSearch.bm25TopKIndexed(survivors, "doc_id", "text", root,
        Seq("apple", "cherry", "banana"), k = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val prePurge = scores()
    TextSearch.purgeCorpusStats(
      corpus.where(col("doc_id") === 3L || col("doc_id") === 4L),
      "doc_id", "text", root)
    val clean = scores()
    assert(clean != prePurge)
    // the pinned reader still sums the OLD consistent corpus partials
    assert(pinned.agg(sum(col("n"))).collect()(0).getLong(0) ==
      corpus.count(), "pinned reader lost files mid-purge")
    // crash-before-flip: dropping the latest manifest IS the on-disk
    // state a crash between the purge's moves and its flip leaves —
    // the stats read as FULLY pre-purge, never a skewed half-state
    // (the old layout needed a move-order argument to even bound the
    // skew direction; now there is no torn state at all)
    val latest = manifests().last
    fs.delete(new Path(s"$root/$latest"), false)
    assert(scores() == prePurge, "torn purge leaked a half-state")
    // re-running the purge is the recovery
    TextSearch.purgeCorpusStats(
      corpus.where(col("doc_id") === 3L || col("doc_id") === 4L),
      "doc_id", "text", root)
    assert(scores() == clean)
    // vacuum drops exactly the unlisted garbage; answers unchanged
    assert(TextSearch.vacuumCorpusStats(spark, root) > 0L)
    val listed = manifestFiles(manifests().last).toSet
    Seq("corpus", "terms").foreach { d =>
      fs.listStatus(new Path(s"$root/$d"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$d/${f.getPath.getName}")
        .foreach(rel => assert(listed.contains(rel), s"garbage survived: $rel"))
    }
    assert(scores() == clean)
  }

  test("compactCorpusStats: folds the append partials into one file-set " +
      "with byte-identical summed reads; refuses a non-stats layout") {
    val grown = corpus.union(Seq(
      (5L, "apple durian durian"),
      (6L, "cherry banana apple apple")).toDF("doc_id", "text"))
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_compact_${System.nanoTime()}")
    dir.deleteOnExit()
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", dir.getAbsolutePath)
    TextSearch.appendCorpusStats(grown.where(col("doc_id") === 5L),
      "doc_id", "text", dir.getAbsolutePath)
    TextSearch.appendCorpusStats(grown.where(col("doc_id") === 6L),
      "doc_id", "text", dir.getAbsolutePath)
    def parquetFiles(sub: String): Int =
      new java.io.File(dir, sub).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles("corpus") >= 3,
      "fixture must accumulate one corpus partial per save/append")
    def rows(terms: Seq[String]) =
      TextSearch.bm25TopKIndexed(grown, "doc_id", "text",
        dir.getAbsolutePath, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = Seq(Seq("apple", "cherry"), Seq("durian"),
      Seq("banana", "zzz_absent")).map(rows)
    TextSearch.compactCorpusStats(spark, dir.getAbsolutePath)
    assert(parquetFiles("corpus") == 1, "corpus partials must fold to one")
    assert(parquetFiles("terms") == 1,
      "terms partials must fold to the size-targeted count (1 here)")
    val after = Seq(Seq("apple", "cherry"), Seq("durian"),
      Seq("banana", "zzz_absent")).map(rows)
    assert(after === before)
    // compaction is idempotent
    TextSearch.compactCorpusStats(spark, dir.getAbsolutePath)
    assert(Seq(Seq("apple", "cherry"), Seq("durian"),
      Seq("banana", "zzz_absent")).map(rows) === before)
    val notStats = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_compact_bad_${System.nanoTime()}")
    notStats.deleteOnExit()
    corpus.write.parquet(s"$notStats/corpus")
    val e = intercept[IllegalArgumentException] {
      TextSearch.compactCorpusStats(spark, notStats.getAbsolutePath)
    }
    assert(e.getMessage.contains("saveCorpusStats layout"))
  }

  test("compactCorpusStats crash window: a crash mid-stage changes " +
      "nothing visible (abandoned staging roots are reclaimed), a torn " +
      "append is invisible until its flip, and the healed layout equals " +
      "a fresh rebuild") {
    import org.apache.hadoop.fs.Path
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_compact_torn_${System.nanoTime()}")
    dir.deleteOnExit()
    val root = dir.getAbsolutePath
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", root)
    TextSearch.appendCorpusStats(Seq((5L, "apple durian durian"))
      .toDF("doc_id", "text"), "doc_id", "text", root)
    val grown = corpus.union(Seq((5L, "apple durian durian"))
      .toDF("doc_id", "text"))
    def rows() = TextSearch.bm25TopKIndexed(grown, "doc_id", "text",
        root, Seq("apple", "durian"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = rows()
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    // crash mid-stage: an abandoned staging root changes nothing
    // visible, and the next compaction reclaims it
    fs.mkdirs(new Path(s"$root/.compact_stage_deadbeef/corpus"))
    assert(rows() == want)
    TextSearch.compactCorpusStats(spark, root)
    assert(rows() == want, "compaction changed answers")
    assert(!fs.listStatus(new Path(root))
      .exists(_.getPath.getName.startsWith(".compact_stage_")),
      "abandoned staging root survived the compaction's vacuum")
    // torn append (files moved, flip missing): invisible, re-run heals
    TextSearch.appendCorpusStats(Seq((6L, "cherry banana"))
      .toDF("doc_id", "text"), "doc_id", "text", root)
    val latest = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("_manifest.v")).sorted.last
    fs.delete(new Path(s"$root/$latest"), false)
    assert(rows() == want, "unflipped append partials leaked")
    TextSearch.appendCorpusStats(Seq((6L, "cherry banana"))
      .toDF("doc_id", "text"), "doc_id", "text", root)
    val grown2 = grown.union(Seq((6L, "cherry banana")).toDF("doc_id", "text"))
    // the healed layout answers exactly like a fresh rebuild
    val fresh = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_compact_torn_fresh_${System.nanoTime()}")
    fresh.deleteOnExit()
    TextSearch.saveCorpusStats(grown2, "doc_id", "text", fresh.getAbsolutePath)
    def rowsAt(p: String) = TextSearch.bm25TopKIndexed(grown2, "doc_id",
        "text", p, Seq("apple", "durian"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rowsAt(root) == rowsAt(fresh.getAbsolutePath))
  }

  test("stats lifecycle property: a seeded-random interleaving of " +
      "append/purge/compact/vacuum keeps indexed scores equal to a " +
      "fresh rebuild over the surviving corpus at every step boundary") {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_prop_${System.nanoTime()}")
    base.deleteOnExit()
    val root = s"${base.getAbsolutePath}/stats"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val rnd = new scala.util.Random(42)
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    def byIds(ids: Set[Long]) = docs.where(col("doc_id").isin(ids.toSeq: _*))
    var members = allIds.take(150).toSet
    TextSearch.saveCorpusStats(byIds(members), "doc_id", "text", root)
    // query terms drawn from a member doc so scores are non-trivial
    val terms = docs.orderBy("doc_id").limit(1)
      .select(col("text")).collect()(0).getString(0)
      .toLowerCase.split("\\W+").filter(_.length > 2).distinct.take(3).toSeq
    def scores(statsPath: String, corpus: org.apache.spark.sql.DataFrame) =
      TextSearch.bm25TopKIndexed(corpus, "doc_id", "text", statsPath,
        terms, k = 15)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (step <- 1 to 6) {
      rnd.nextInt(4) match {
        case 0 | 1 => // append NEW documents only (the must-be-NEW rule)
          val batch = rnd.shuffle((allIds.toSet -- members).toSeq)
            .take(60).toSet
          if (batch.nonEmpty) {
            TextSearch.appendCorpusStats(byIds(batch), "doc_id", "text", root)
            members = members ++ batch
          }
        case 2 => // purge currently-counted docs only (the mirror rule)
          val victims = rnd.shuffle(members.toSeq).take(40).toSet
          if (victims.nonEmpty) {
            TextSearch.purgeCorpusStats(byIds(victims), "doc_id", "text", root)
            members = members -- victims
          }
        case 3 =>
          TextSearch.compactCorpusStats(spark, root)
          if (rnd.nextBoolean()) TextSearch.vacuumCorpusStats(spark, root)
      }
      // invariant: the evolved stats score exactly like a fresh rebuild
      // over the surviving corpus
      val fresh = s"${base.getAbsolutePath}/fresh_$step"
      TextSearch.saveCorpusStats(byIds(members), "doc_id", "text", fresh)
      val corpus = byIds(members)
      assert(scores(root, corpus) == scores(fresh, corpus),
        s"step $step: evolved stats diverged from a fresh rebuild")
    }
  }

  test("snapshot stats: a version-pinned read scores with that " +
    "version's idf/N (pre-purge weights stay scoreable after the purge " +
    "committed); vacuum's keepVersions bounds the pinnable window") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_asof_${System.nanoTime()}")
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    val grown = corpus.union(Seq(
      (5L, "apple durian durian"),
      (6L, "cherry banana apple apple")).toDF("doc_id", "text"))
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", path) // v1
    TextSearch.appendCorpusStats(grown.where(col("doc_id") > 4L),
      "doc_id", "text", path) // v2
    TextSearch.purgeCorpusStats(grown.where(col("doc_id") % 2L === 0L),
      "doc_id", "text", path) // v3
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == Seq(1, 2, 3))
    def scored(docs: org.apache.spark.sql.DataFrame, asOf: Option[Int],
               terms: Seq[String]) =
      TextSearch.bm25TopKIndexed(docs, "doc_id", "text", path, terms,
          k = 10, asOfVersion = asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def live(docs: org.apache.spark.sql.DataFrame, terms: Seq[String]) =
      TextSearch.bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val survivors = grown.where(col("doc_id") % 2L =!= 0L)
    for (terms <- Seq(Seq("apple", "cherry"), Seq("durian", "zzz_absent"))) {
      assert(scored(grown, Some(2), terms) === live(grown, terms),
        s"v2 pin must score with full pre-purge stats: terms=$terms")
      assert(scored(corpus, Some(1), terms) === live(corpus, terms),
        s"v1 pin must score with bootstrap stats: terms=$terms")
      assert(scored(survivors, None, terms) === live(survivors, terms),
        s"latest must score with survivor stats: terms=$terms")
    }
    TextSearch.vacuumCorpusStats(spark, path, keepVersions = 2)
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, path), path) == Seq(2, 3))
    assert(scored(grown, Some(2), Seq("apple", "cherry")) ===
      live(grown, Seq("apple", "cherry")),
      "a retained snapshot must survive the vacuum intact")
    val e = intercept[IllegalArgumentException](
      scored(corpus, Some(1), Seq("apple")))
    assert(e.getMessage.contains("v1") &&
      e.getMessage.contains("keepVersions"),
      s"out-of-window pin must name the remedy: ${e.getMessage}")
  }

  test("writer CAS through the verbs: two appends racing on one stats " +
    "layout serialize or fail loudly, and retry-on-conflict converges " +
    "to exactly-once — final scores equal a one-shot rebuild") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_race_${System.nanoTime()}")
    dir.deleteOnExit()
    val path = dir.getAbsolutePath
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", path)
    val extras = Seq(
      (5L, "apple durian durian"), (6L, "cherry banana apple apple"),
      (7L, "banana banana durian"), (8L, "apple cherry fig"))
      .toDF("doc_id", "text")
    val grown = corpus.union(extras)
    val halves = Seq(extras.where(col("doc_id") < 7L).localCheckpoint(),
      extras.where(col("doc_id") >= 7L).localCheckpoint())
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = halves.map { h =>
      new Thread(() => {
        try {
          barrier.await()
          var done = false
          while (!done) {
            try {
              TextSearch.appendCorpusStats(h, "doc_id", "text", path)
              done = true
            } catch {
              // the CAS loser: nothing visible, re-run is the contract
              case _: java.util.ConcurrentModificationException => ()
            }
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"racing append died: ${errs.peek()}")
    val oneShot = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_race_oneshot_${System.nanoTime()}")
    oneShot.deleteOnExit()
    TextSearch.saveCorpusStats(grown, "doc_id", "text",
      oneShot.getAbsolutePath)
    def rows(p: String, terms: Seq[String]) =
      TextSearch.bm25TopKIndexed(grown, "doc_id", "text", p, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (terms <- Seq(Seq("apple", "cherry"), Seq("durian", "fig"))) {
      assert(rows(path, terms) === rows(oneShot.getAbsolutePath, terms),
        s"racing appends lost or double-counted a partial: terms=$terms")
    }
    // a loser's first-attempt files are unlisted garbage: vacuum
    // reclaims them and the answers do not move
    TextSearch.vacuumCorpusStats(spark, path)
    assert(rows(path, Seq("apple", "cherry")) ===
      rows(oneShot.getAbsolutePath, Seq("apple", "cherry")))
  }

  test("batch indexed: saved stats reproduce the live batch exactly, " +
      "zero corpus scans before scoring") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_batch_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    TextSearch.saveCorpusStats(corpus, "doc_id", "text", dir.getAbsolutePath)
    val probes = Seq(
      (0L, Seq("apple", "cherry")),
      (1L, Seq("cherry", "zzz_absent"))).toDF("probe", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val live = rows(TextSearch.bm25TopKBatch(corpus, "doc_id", "text",
      probes, "probe", "terms", k = 10))
    val saved = rows(TextSearch.bm25TopKBatchIndexed(corpus, "doc_id",
      "text", dir.getAbsolutePath, probes, "probe", "terms", k = 10))
    assert(saved === live)
  }

  test("phraseMatches: exact counts, overlap with repeated terms, " +
    "duplicate-slot phrases, normalization, absent docs omitted") {
    val docs = Seq(
      (1L, "the quick brown fox jumps the quick brown dog"),
      (2L, "quick the brown"), // both words, wrong order/adjacency
      (3L, "  The   QUICK  brown  cat "), // case + run whitespace
      (4L, "table table table"), // 2 overlapping "table table" starts
      (5L, "a b a b a"), // 2 overlapping "a b a" starts
      (6L, "nothing here")).toDF("doc_id", "text")
    def m(phrase: Seq[String]) =
      TextSearch.phraseMatches(docs, "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(Seq("quick", "brown")) == Map(1L -> 2L, 3L -> 1L))
    assert(m(Seq("QUICK", " Brown ")) == Map(1L -> 2L, 3L -> 1L))
    assert(m(Seq("table", "table")) == Map(4L -> 2L))
    assert(m(Seq("a", "b", "a")) == Map(5L -> 2L))
    assert(m(Seq("fox", "jumps")) == Map(1L -> 1L))
    assert(m(Seq("absent")) == Map.empty[Long, Long])
    intercept[IllegalArgumentException] {
      TextSearch.phraseMatches(docs, "doc_id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      TextSearch.phraseMatches(docs, "doc_id", "text", Seq("a", " "))
    }
    intercept[IllegalArgumentException] {
      TextSearch.phraseMatches(docs, "doc_id", "text",
        (1 to 64).map(_.toString))
    }
  }

  test("phraseMatches plan gate: one scan, no join — the corpus " +
    "filters to phrase tokens before any exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextSearch.phraseMatches(docs, "doc_id", "text",
      Seq("value", "table"))
    df.collect()
    // AQE repeats the tree under "== Initial Plan ==" — gate the final
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("SortAggregate"), s"sort-the-world agg:\n$plan")
    assert("FileScan".r.findAllIn(plan).size == 1,
      s"expected exactly one scan:\n$plan")
  }

  test("plan gate: no token explode, no exchange, TakeOrderedAndProject on top") {
    // a real parquet scan — a local fixture constant-folds to a
    // LocalRelation and the planner loses the top-k rewrite. Raw read,
    // not Tables.documents: that helper injects a round-robin
    // repartition (local-parallelism fan-out), which would mask the
    // operator's own zero-exchange claim.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = TextSearch.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "vector", "join"), k = 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k on top:\n$plan")
    // the corpus never shuffles: tf is computed on the token array in
    // place (no Generate/explode), and pass 2 has no wide operator
    assert(!plan.contains("Generate"), s"token explode leaked in:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("proximityMatches: adjacent-pair minimum gap, slop filter, " +
    "single-term docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),        // gap quick->fox = 2
      (2L, "fox a quick fox"),                  // min gap 1 (quick, fox@3)
      (3L, "quick things only here"),           // missing fox -> absent
      (4L, "fox FOX Quick"),                    // case-folds; min gap 1
      (5L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextSearch
      .proximityMatches(docs, "doc_id", "text", "quick", "fox", slop = 2)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 1L, 2L), (2L, 1L, 2L, 1L), (4L, 1L, 2L, 1L)),
      out.mkString(","))
    // tighter slop drops the gap-2 doc
    val tight = graft.operators.TextSearch
      .proximityMatches(docs, "doc_id", "text", "quick", "fox", 1)
      .collect().map(_.getLong(0)).toSet
    assert(tight == Set(2L, 4L), tight.toString)
    intercept[IllegalArgumentException] {
      graft.operators.TextSearch.proximityMatches(
        docs, "doc_id", "text", "same", "same", 2)
    }
  }

  test("textrankKeywords: co-occurrence centrality under the exact " +
    "integer-micros PageRank protocol") {
    import spark.implicits._
    // star graph: hub touches x, y, z -> hub's centrality dominates
    val docs = Seq((1L, "hub x hub y hub z")).toDF("doc_id", "text")
    val out = graft.operators.TextSearch
      .textrankKeywords(docs, "doc_id", "text", iters = 3, topK = 4)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // hand-rolled protocol: r3(hub) = 2483250 micros, r3(leaf) = 505583
    assert(out(0) == ("hub", 2.48325), out.mkString(","))
    assert(out.drop(1).toSeq == Seq(("x", 0.505583), ("y", 0.505583),
      ("z", 0.505583)), out.mkString(","))
    // symmetric 2-cycle keeps rank at exactly 1.0 (mass-preserving)
    val ab = graft.operators.TextSearch.textrankKeywords(
      Seq((1L, "a b a")).toDF("doc_id", "text"), "doc_id", "text", 3, 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(ab.toSeq == Seq(("a", 1.0), ("b", 1.0)), ab.mkString(","))
  }
}
