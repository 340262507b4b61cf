package graft.operators

import org.apache.hadoop.fs.Path

/** Manifest protocol invariants shared by all three persisted artifact
  * families: CAS commits (writer-side isolation — of two racing
  * writers exactly one wins, the loser fails loudly with nothing
  * visible) and version-pinned resolution (snapshot reads bounded by
  * vacuum's keepVersions retention window). Lives in the operators
  * package to exercise [[StoreSwap]] directly; the family-level specs
  * (DedupSpec / IvfIndexSpec / TextSearchSpec) gate the same protocol
  * through the public verbs. */
class StoreSwapSpec extends graft.SparkSpec {

  private def freshRoot(): String = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_storeswap_${System.nanoTime()}")
    f.deleteOnExit()
    f.getAbsolutePath
  }

  test("commitManifest is CAS: a second claim of the same version fails " +
    "loudly, keeps the winner's content, and leaves no tmp litter") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    StoreSwap.commitManifest(fs, root, 1, Seq("d/f1.parquet"))
    StoreSwap.commitManifest(fs, root, 2, Seq("d/f1.parquet", "d/f2.parquet"))
    val e = intercept[java.util.ConcurrentModificationException] {
      StoreSwap.commitManifest(fs, root, 2, Seq("d/f1.parquet", "d/f3.parquet"))
    }
    assert(e.getMessage.contains("concurrent writer") &&
      e.getMessage.contains("re-run"),
      s"loser's error must name the conflict and the remedy: ${e.getMessage}")
    assert(StoreSwap.latestManifest(fs, root).contains(
      2 -> Seq("d/f1.parquet", "d/f2.parquet")),
      "the losing claim must not disturb the winner's manifest")
    assert(!fs.listStatus(new Path(root)).exists(
      _.getPath.getName.startsWith("._manifest_tmp_")),
      "the losing claim left its tmp manifest behind")
  }

  test("commitManifest under a real thread race: of N simultaneous " +
    "claimants for one version exactly one wins and its content is " +
    "what readers resolve") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    StoreSwap.commitManifest(fs, root, 1, Seq("d/base.parquet"))
    val n = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until n).map { i =>
      new Thread(() => {
        barrier.await()
        try {
          StoreSwap.commitManifest(fs, root, 2, Seq(s"d/w$i.parquet"))
          wins.incrementAndGet()
        } catch {
          case _: java.util.ConcurrentModificationException =>
            losses.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(wins.get == 1 && losses.get == n - 1,
      s"expected exactly one winner of $n, got ${wins.get} " +
        s"(losses ${losses.get})")
    val (v, files) = StoreSwap.latestManifest(fs, root).get
    assert(v == 2 && files.length == 1 &&
      files.head.matches("d/w\\d\\.parquet"),
      s"committed content must be exactly one claimant's, intact: $files")
  }

  test("listDirFiles and moveStagedIn are recursive: a two-level " +
    "partitioned layout lists and moves completely (a depth-limited " +
    "lister would unlist live files and the next vacuum would delete " +
    "them)") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    def touch(rel: String): Unit = {
      val p = new Path(s"$root/$rel")
      fs.mkdirs(p.getParent)
      fs.create(p, true).close()
    }
    touch("fact/flat.parquet")
    touch("fact/p_year=2024/one.parquet")
    touch("fact/p_year=2024/p_month=1/deep.parquet")
    touch("fact/p_year=2024/p_month=2/deep2.parquet")
    touch("fact/p_year=2024/p_month=1/_ignored.crc") // non-parquet skipped
    assert(StoreSwap.listDirFiles(fs, root, "fact").sorted == Seq(
      "fact/flat.parquet", "fact/p_year=2024/one.parquet",
      "fact/p_year=2024/p_month=1/deep.parquet",
      "fact/p_year=2024/p_month=2/deep2.parquet"),
      "every depth must list, non-parquet must not")
    // staged two-level layout moves in preserving partition dirs
    val stage = new Path(root, ".save_stage_t_fact")
    fs.mkdirs(new Path(stage, "p_year=2025/p_month=3"))
    fs.create(new Path(stage, "p_year=2025/p_month=3/f.parquet"), true).close()
    val moved = StoreSwap.moveStagedIn(fs, root, "fact", stage, "tag_")
    assert(moved == Seq("fact/p_year=2025/p_month=3/tag_f.parquet"), moved)
    assert(fs.exists(new Path(s"$root/${moved.head}")))
    assert(!fs.exists(stage), "staging root must be dropped")
  }

  test("vacuum graceMs protects a mid-flight verb: young staging roots, " +
    "tmp manifests, and moved-in-but-unflipped files survive; the same " +
    "sweep with grace 0 (quiescent) reclaims them") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    // committed store: one listed file
    fs.mkdirs(new Path(s"$root/d"))
    fs.create(new Path(s"$root/d/live.parquet"), true).close()
    StoreSwap.commitManifest(fs, root, 1, Seq("d/live.parquet"))
    // a mid-flight mutation: staging root + an already-moved-in (but
    // not yet flipped) file + a tmp manifest, all freshly written
    fs.mkdirs(new Path(s"$root/.ingest_stage_x_d"))
    fs.create(new Path(s"$root/d/unflipped.parquet"), true).close()
    fs.create(new Path(s"$root/._manifest_tmp_x"), true).close()
    val dropped = StoreSwap.vacuumManifested(spark, root, Seq("d"),
      "spec", keepVersions = 1, graceMs = 3600 * 1000L)
    assert(dropped == 0L, s"grace must protect young bytes, dropped $dropped")
    assert(fs.exists(new Path(s"$root/.ingest_stage_x_d")) &&
      fs.exists(new Path(s"$root/d/unflipped.parquet")) &&
      fs.exists(new Path(s"$root/._manifest_tmp_x")),
      "in-flight staging/tmp/moved-in files must survive a graced vacuum")
    // the mutation now commits — its moved-in file becomes listed
    StoreSwap.commitManifest(fs, root, 2,
      Seq("d/live.parquet", "d/unflipped.parquet"))
    // quiescent sweep (grace 0): the leftovers reclaim, listed files stay
    val dropped2 = StoreSwap.vacuumManifested(spark, root, Seq("d"), "spec")
    assert(dropped2 == 0L, "both files are listed by the kept manifest")
    assert(!fs.exists(new Path(s"$root/.ingest_stage_x_d")) &&
      !fs.exists(new Path(s"$root/._manifest_tmp_x")),
      "quiescent vacuum reclaims staging litter")
    assert(fs.exists(new Path(s"$root/d/unflipped.parquet")),
      "the committed file must survive")
  }

  test("versioned layout: floor-rule resolution per manifest version, " +
    "claim-or-verify on re-commit, and vacuum keeps the oldest kept " +
    "manifest's floor layout") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    fs.mkdirs(new Path(s"$root/d"))
    def commitV(v: Int, withLayout: Boolean = false): Unit = {
      fs.create(new Path(s"$root/d/f$v.parquet"), true).close()
      StoreSwap.commitManifest(fs, root, v, Seq(s"d/f$v.parquet"),
        layoutCommitted = withLayout)
    }
    StoreSwap.commitLayout(fs, root, 1, Seq("pb" -> 8))
    commitV(1, withLayout = true)
    commitV(2) // a verb that doesn't change layout
    assert(StoreSwap.commitLayout(fs, root, 3, Seq("pb" -> 64)),
      "first claim of a version reports created")
    // idempotent re-commit with same values passes (a crashed verb's
    // re-run, BEFORE any manifest v3 exists); different values refuse
    assert(!StoreSwap.commitLayout(fs, root, 3, Seq("pb" -> 64)),
      "verify of an existing identical claim reports NOT created")
    val e = intercept[java.util.ConcurrentModificationException](
      StoreSwap.commitLayout(fs, root, 3, Seq("pb" -> 16)))
    assert(e.getMessage.contains("different values"), e.getMessage)
    commitV(3, withLayout = true)
    assert(StoreSwap.readLayoutAt(fs, root, 1) == Map("pb" -> 8))
    assert(StoreSwap.readLayoutAt(fs, root, 2) == Map("pb" -> 8),
      "floor rule: v2 resolves the layout committed at v1")
    assert(StoreSwap.readLayoutAt(fs, root, 3) == Map("pb" -> 64))
    // once manifest v3 is committed, ANY layout claim of v3 is stale
    // (the claimant's entry read predates the committed version)
    val stale = intercept[java.util.ConcurrentModificationException](
      StoreSwap.commitLayout(fs, root, 3, Seq("pb" -> 64)))
    assert(stale.getMessage.contains("already"), stale.getMessage)
    // vacuum to the latest 1: v3's floor (the v3 layout) survives,
    // the v1 layout is out of window and reclaimed
    StoreSwap.vacuumManifested(spark, root, Seq("d"), "spec")
    assert(StoreSwap.layoutVersions(fs, root) == Seq(3))
    assert(StoreSwap.readLayoutAt(fs, root, 3) == Map("pb" -> 64))
    // below the oldest kept layout nothing resolves: a loud refusal
    // naming the path and version, never default counts
    val none = intercept[IllegalArgumentException](
      StoreSwap.readLayoutAt(fs, root, 2))
    assert(none.getMessage.contains(root) &&
      none.getMessage.contains("k <= 2"), none.getMessage)
  }

  test("orphan layout (a crashed layout-writing verb): a layout-less " +
    "commit of that version refuses loudly, the crashed verb's re-run " +
    "passes, and vacuum reclaims an aged abandoned orphan") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(s"$root/d"))
    fs.create(new Path(s"$root/d/f1.parquet"), true).close()
    // crash window: layout v1 committed, manifest v1 not
    StoreSwap.commitLayout(fs, root, 1, Seq("pb" -> 8))
    val e = intercept[java.util.ConcurrentModificationException] {
      StoreSwap.commitManifest(fs, root, 1, Seq("d/f1.parquet"))
    }
    assert(e.getMessage.contains("Re-run") ||
      e.getMessage.contains("re-run") || e.getMessage.contains("orphan"),
      s"refusal must name the remedy: ${e.getMessage}")
    // the crashed verb re-runs: claim-or-verify passes, it takes v1
    StoreSwap.commitLayout(fs, root, 1, Seq("pb" -> 8))
    StoreSwap.commitManifest(fs, root, 1, Seq("d/f1.parquet"),
      layoutCommitted = true)
    assert(StoreSwap.readLayoutAt(fs, root, 1) == Map("pb" -> 8))
    // an abandoned orphan ABOVE the newest manifest: vacuum (quiescent)
    // reclaims it, and the next layout-less commit proceeds
    StoreSwap.commitLayout(fs, root, 2, Seq("pb" -> 16))
    intercept[java.util.ConcurrentModificationException] {
      StoreSwap.commitManifest(fs, root, 2, Seq("d/f1.parquet"))
    }
    StoreSwap.vacuumManifested(spark, root, Seq("d"), "spec")
    assert(StoreSwap.layoutVersions(fs, root) == Seq(1),
      "vacuum must reclaim the abandoned orphan layout")
    fs.create(new Path(s"$root/d/f2.parquet"), true).close()
    StoreSwap.commitManifest(fs, root, 2,
      Seq("d/f1.parquet", "d/f2.parquet"))
    assert(StoreSwap.readLayoutAt(fs, root, 2) == Map("pb" -> 8),
      "v2 must floor-resolve v1's layout after the orphan is gone")
  }

  test("layout CAS-loss cleanup: a layout-writing verb that loses the " +
    "manifest race deletes the layout file it created, so the orphan " +
    "can never bind to the winner's manifest") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(s"$root/d"))
    fs.create(new Path(s"$root/d/f1.parquet"), true).close()
    val c1 = StoreSwap.commitLayout(fs, root, 1, Seq("pb" -> 8))
    StoreSwap.commitManifest(fs, root, 1, Seq("d/f1.parquet"),
      layoutCommitted = true, layoutCreated = c1)
    // the residual interleaving: this verb claims layout v2 while the
    // manifest is still absent…
    val c2 = StoreSwap.commitLayout(fs, root, 2, Seq("pb" -> 64))
    assert(c2, "fresh claim must report created")
    // …then a concurrent writer lands manifest v2 first (simulated
    // directly — in the live race it passed its own orphan check
    // before this verb's layout existed)
    fs.create(new Path(s"$root/d/w.parquet"), true).close()
    StoreSwap.commitManifest(fs, root, 2,
      Seq("d/f1.parquet", "d/w.parquet"), layoutCommitted = true)
    fs.create(new Path(s"$root/d/f2.parquet"), true).close()
    val loss = intercept[java.util.ConcurrentModificationException] {
      StoreSwap.commitManifest(fs, root, 2,
        Seq("d/f1.parquet", "d/f2.parquet"),
        layoutCommitted = true, layoutCreated = c2)
    }
    assert(StoreSwap.layoutVersions(fs, root) == Seq(1),
      "the loser must delete the layout it created — otherwise v2 " +
        "pinned reads would resolve pb=64 for files written under pb=8")
    // …and, since the released counts (pb=64) differ from the floor the
    // winner now resolves (pb=8), the conflict must SAY so — the one
    // undetectable residual (a same-counts layout-changing winner,
    // outside the single-writer contract) gets a loud adjudication
    // instruction instead of silent mis-routing
    assert(loss.getMessage.contains("layout claim") &&
      loss.getMessage.contains("pb,64") &&
      loss.getMessage.contains("pb,8"), loss.getMessage)
    assert(StoreSwap.readLayoutAt(fs, root, 2) == Map("pb" -> 8),
      "after cleanup the winner's version floor-resolves the old counts")
    // and a layout claim AGAINST an already-committed version refuses
    val stale = intercept[java.util.ConcurrentModificationException](
      StoreSwap.commitLayout(fs, root, 2, Seq("pb" -> 64)))
    assert(stale.getMessage.contains("already committed"), stale.getMessage)
  }

  test("chunked manifests: past the segment threshold the file list " +
    "rolls into _mfseg segments, an append CARRIES prior segments by " +
    "reference (delta-cost commit), reads expand verbatim, and vacuum " +
    "reclaims only unreferenced segments") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    def fakeFiles(n: Int, tag: String): Seq[String] =
      (0 until n).map(i => f"d/part=${i % 8}/${tag}_f$i%06d.parquet")
    def manifestText(v: Int): String = {
      val in = fs.open(new Path(s"$root/_manifest.v$v"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    def segRefs(v: Int): Set[String] =
      manifestText(v).linesIterator.filter(_.startsWith("#seg\t"))
        .map(_.split("\t")(1)).toSet
    val v1Files = fakeFiles(40000, "a")
    StoreSwap.commitManifest(fs, root, 1, v1Files)
    assert(segRefs(1).nonEmpty, "40k entries must chunk into segments")
    assert(manifestText(1).linesIterator.size < 2000,
      "the manifest itself must stay small — that is the point")
    assert(StoreSwap.latestManifest(fs, root).get._2.sorted ==
      v1Files.sorted, "expansion must be verbatim")
    // append 16 files: prior segments carry by REFERENCE
    val v2Files = v1Files ++ fakeFiles(16, "b")
    StoreSwap.commitManifest(fs, root, 2, v2Files)
    assert(segRefs(1).subsetOf(segRefs(2)),
      "an append must reuse every prior segment, not rewrite the list")
    assert(StoreSwap.latestManifest(fs, root).get._2.sorted ==
      v2Files.sorted)
    // drop one entry: the segment containing it dissolves, the rest carry
    val dropped = v1Files.head
    val v3Files = v2Files.filterNot(_ == dropped)
    StoreSwap.commitManifest(fs, root, 3, v3Files)
    assert(StoreSwap.latestManifest(fs, root).get._2.sorted ==
      v3Files.sorted)
    assert((segRefs(2) -- segRefs(3)).nonEmpty,
      "the dropped entry's segment must not be carried")
    assert((segRefs(2) & segRefs(3)).nonEmpty,
      "untouched segments must still carry")
    // pinned reads at every retained version stay exact
    assert(StoreSwap.manifestAt(fs, root, 1)._2.sorted == v1Files.sorted)
    assert(StoreSwap.manifestAt(fs, root, 2)._2.sorted == v2Files.sorted)
    // vacuum to the latest: v1/v2-only segments reclaim, v3's survive
    fs.mkdirs(new Path(s"$root/d"))
    StoreSwap.vacuumManifested(spark, root, Seq("d"), "spec")
    val remaining = fs.listStatus(new Path(s"$root/_mfseg"))
      .map(s => s"_mfseg/${s.getPath.getName}").toSet
    assert(remaining == segRefs(3),
      s"vacuum must keep exactly the referenced segments: " +
        s"$remaining vs ${segRefs(3)}")
    assert(StoreSwap.latestManifest(fs, root).get._2.sorted ==
      v3Files.sorted, "the store must read identically after vacuum")
  }

  test("sized manifest entries round-trip: commit records tab-sized " +
    "lines for moved-in files and a hand-written legacy (unsized) " +
    "manifest still reads through the dir-batched fallback") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    import spark.implicits._
    val df = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val moved = StoreSwap.stageAndMoveIn(fs, root, "d", "save", "s1_")(
      tmp => df.repartition(1).write.mode("overwrite").parquet(tmp))
    StoreSwap.commitManifest(fs, root, 1, moved)
    val in = fs.open(new Path(s"$root/_manifest.v1"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(text.linesIterator.forall(l => l.isEmpty || l.contains("\t")),
      s"entries must carry sizes: $text")
    val (_, files) = StoreSwap.latestManifest(fs, root).get
    assert(files == moved, "reads must return plain paths")
    val back = StoreSwap.readStoreDir(spark, root, "d", files)
    assert(back.orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "x"), (2, "y"), (3, "z")))
    // legacy manifest: same files, no sizes — a fresh store root so the
    // size cache is cold for it; the read must fall back to one
    // listStatus per dir and still work
    val root2 = freshRoot()
    val fs2 = StoreSwap.fsOf(spark, root2)
    fs2.mkdirs(new Path(s"$root2/d"))
    moved.foreach { rel =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$root/$rel"),
        fs2, new Path(s"$root2/$rel"), false, fs.getConf)
    }
    val out = fs2.create(new Path(s"$root2/_manifest.v1"), true)
    out.write(moved.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val (_, legacyFiles) = StoreSwap.latestManifest(fs2, root2).get
    val back2 = StoreSwap.readStoreDir(spark, root2, "d", legacyFiles)
    assert(back2.orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "x"), (2, "y"), (3, "z")))
  }

  test("manifestEntriesPruned expands only prefix-compatible segments: " +
    "the pruned entry-set equals the filtered full read, and a segment " +
    "whose recorded prefix cannot match is never even opened") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    val aFiles = (0 until 20000).map(i => f"a/p=1/f$i%05d.parquet")
    val bFiles = (0 until 20000).map(i => f"b/q=2/f$i%05d.parquet")
    StoreSwap.commitManifest(fs, root, 1, aFiles ++ bFiles)
    val refs = scala.io.Source.fromFile(s"$root/_manifest.v1")
      .getLines().filter(_.startsWith("#seg\t")).map(_.split("\t")).toSeq
    assert(refs.nonEmpty, "40k entries must roll into segments")
    assert(refs.exists(r => r.length > 3 && r(3).startsWith("a/")) &&
      refs.exists(r => r.length > 3 && r(3).startsWith("b/")),
      s"sorted chunking must yield prefix-selective refs: " +
        refs.map(_.mkString("|")).mkString("; "))
    val prunedA = StoreSwap.manifestEntriesPruned(fs, root, None, "a/", "t")
    assert(prunedA.sorted == aFiles.sorted)
    val prunedOneB = StoreSwap.manifestEntriesPruned(fs, root, None,
      "b/q=2/f00001", "t")
    assert(prunedOneB == Seq("b/q=2/f00001.parquet"))
    // behavioral skip proof: destroy the pure-b segment — an "a/" prune
    // must still resolve (it never opens that segment) while the full
    // read fails loudly on it
    val bSeg = refs.find(r => r.length > 3 && r(3).startsWith("b/")).get(1)
    fs.delete(new Path(s"$root/$bSeg"), false)
    // fresh JVM simulation: the segment cache would mask the delete
    StoreSwap.clearPathCaches(root)
    assert(StoreSwap.manifestEntriesPruned(fs, root, None, "a/", "t")
      .sorted == aFiles.sorted)
    intercept[Exception](StoreSwap.latestManifest(fs, root))
  }

  test("pruneManifestLinks keeps the newest K version links (data files " +
    "untouched), time travel narrows to the retained window") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    (1 to 6).foreach(v =>
      StoreSwap.commitManifest(fs, root, v, (1 to v).map(i => s"d/f$i.parquet")))
    assert(StoreSwap.pruneManifestLinks(fs, root, 2) == 4)
    assert(StoreSwap.manifestVersions(fs, root) == Seq(5, 6))
    assert(StoreSwap.manifestAt(fs, root, 5)._2.length == 5)
    assert(StoreSwap.latestManifest(fs, root).map(_._1).contains(6))
    intercept[IllegalArgumentException](StoreSwap.manifestAt(fs, root, 3))
    // idempotent + floor at 1
    assert(StoreSwap.pruneManifestLinks(fs, root, 2) == 0)
    intercept[IllegalArgumentException](
      StoreSwap.pruneManifestLinks(fs, root, 0))
  }

  test("a v1 commit on a reused path evicts the prior store's cached " +
    "sizes and schemas: a rebuilt store with a colliding file name " +
    "serves the NEW bytes and footer") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    import spark.implicits._
    def buildStore(df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$root.stage"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      fs.mkdirs(new Path(s"$root/d"))
      val part = fs.listStatus(new Path(stage))
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      fs.rename(part, new Path(s"$root/d/f.parquet")) // deterministic name
      fs.delete(new Path(stage), true)
      StoreSwap.commitManifest(fs, root, 1, Seq("d/f.parquet"))
    }
    buildStore(Seq(1, 2, 3).toDF("x"))
    val firstLen = StoreSwap.sizesFor(fs, root, Seq("d/f.parquet")).head._2
    assert(StoreSwap.readStoreDir(spark, root, "d",
      Seq("d/f.parquet")).columns.toSeq == Seq("x"))
    // tear the store down and rebuild at the SAME path with the SAME
    // file name but different schema/content
    fs.delete(new Path(root), true)
    fs.mkdirs(new Path(root))
    buildStore(Seq("a much longer string value", "y")
      .toDF("y_renamed"))
    val secondLen = StoreSwap.sizesFor(fs, root, Seq("d/f.parquet")).head._2
    val second = StoreSwap.readStoreDir(spark, root, "d", Seq("d/f.parquet"))
    assert(second.columns.toSeq == Seq("y_renamed"),
      "stale footer schema served after path reuse")
    assert(secondLen == fs.getFileStatus(
      new Path(s"$root/d/f.parquet")).getLen &&
      secondLen != firstLen,
      s"stale byte length served after path reuse ($firstLen vs $secondLen)")
    assert(second.count() == 2)
  }

  /** Execute (finalizes AQE), then return the physical tree as text. */
  private def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
  }

  /** Run `body` under [[graft.GraftSession.JoinConfs]] with every byte
    * size (and the advisory partition size the local-map threshold is
    * compared with) divided by 2^16, so 1 KB stands in for 64 MB, over
    * 16 shuffle partitions; the prior values come back afterwards.
    * Fails if the local-map threshold is missing or under the advisory
    * size, which would leave AQE's shuffled-hash choice switched off. */
  private def withScaledJoinConfs[T](body: => T): T = {
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val scaled = (graft.GraftSession.JoinConfs +
      (advisory -> s"${64L * 1024 * 1024}"))
      .map { case (k, v) => k -> (v.toLong >> 16).toString }
    val localMap = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    assert(scaled.get(localMap).exists(_.toLong >= scaled(advisory).toLong),
      s"GraftSession sets no usable $localMap: $scaled")
    val confs = scaled + ("spark.sql.shuffle.partitions" -> "16")
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A checkpointed probe of `n` keys (the checkpoint keeps the
    * planner's size estimate, 8 bytes a row) and a store frame. */
  private def probe(n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).selectExpr("id * 3 AS doc").localCheckpoint()

  private def store(n: Long): org.apache.spark.sql.DataFrame =
    spark.range(n).selectExpr("id AS doc", "id % 97 AS payload")

  test("AQE join choice: a checkpointed probe under the broadcast " +
    "threshold plans BroadcastHashJoin") {
    withScaledJoinConfs {
      val plan = finalPlanString(
        store(100000).join(probe(16), Seq("doc"), "left_semi"))
      assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    }
  }

  test("AQE join choice: a probe over the broadcast threshold whose " +
    "shuffle partitions are under the local-map threshold runs " +
    "ShuffledHashJoin, never SortMergeJoin") {
    withScaledJoinConfs {
      val plan = finalPlanString(
        store(100000).join(probe(256), Seq("doc"), "left_semi"))
      assert(plan.contains("ShuffledHashJoin"), plan.take(800))
      assert(!plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(800))
    }
  }

  test("AQE join choice: a build side over the local-map threshold runs " +
    "the spill-capable SortMergeJoin; the same join under it hashes") {
    withScaledJoinConfs {
      def big(n: Long) = spark.range(n)
        .selectExpr("xxhash64(id) AS doc", "id AS payload")
      val over = finalPlanString(big(20000).join(big(20000), Seq("doc")))
      assert(over.contains("SortMergeJoin"), over.take(800))
      assert(!over.contains("ShuffledHashJoin"), over.take(800))
      assert(!over.contains("BroadcastHashJoin"), over.take(800))
      val under = finalPlanString(
        big(20000).join(big(256).select("doc"), Seq("doc")))
      assert(under.contains("ShuffledHashJoin"), under.take(800))
    }
  }

  test("manifestAt resolves any retained version and refuses an unknown " +
    "or vacuumed one naming the retained window") {
    val root = freshRoot()
    val fs = StoreSwap.fsOf(spark, root)
    fs.mkdirs(new Path(root))
    StoreSwap.commitManifest(fs, root, 1, Seq("d/f1.parquet"))
    StoreSwap.commitManifest(fs, root, 2, Seq("d/f2.parquet"))
    assert(StoreSwap.manifestAt(fs, root, 1)._2 == Seq("d/f1.parquet"))
    assert(StoreSwap.manifestAt(fs, root, 2)._2 == Seq("d/f2.parquet"))
    val e = intercept[IllegalArgumentException](
      StoreSwap.manifestAt(fs, root, 99))
    assert(e.getMessage.contains("v99") && e.getMessage.contains("1,2") &&
      e.getMessage.contains("keepVersions"),
      s"refusal must name the missing version and the retained window: " +
        e.getMessage)
  }
}
