package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared copy-on-write plumbing for the persisted artifact stores (the
  * MinHash signature store, the IVF index): every reader resolves the
  * CURRENT file-set through the highest-numbered `_manifest.v<N>` at the
  * store root (one relative parquet path per line), and every mutation
  * verb lands new files first — staged writes MOVED into the live tree
  * under verb-unique names — then commits ONE rename-committed manifest
  * that makes them visible. Old files are unlisted, never deleted by a
  * mutation; the store's vacuum verb is the retention point.
  *
  * Crash contract: anything before the manifest flip is invisible
  * garbage, so re-running the verb is always the recovery, a reader
  * pinned on an older manifest keeps a complete consistent file-set
  * (never a missing partition), and there is no ordering contract
  * between a store's directories — the flip is the single commit point.
  * Mutation verbs are single-writer (the repo-wide store contract);
  * vacuum must not run while a reader is pinned past the latest
  * manifest (the standard retention rule).
  *
  * At 100 TB the manifest is the same driver-side metadata object a
  * table format carries. Two scale mechanisms keep it metadata-cheap:
  *
  *  - **Sized entries** (`relpath<TAB>bytes`): the manifest records
  *    each file's length, so a manifest-resolved read builds its scan
  *    file-index from the manifest ALONE — zero per-file filesystem
  *    calls ([[readStoreDir]] / `ManifestRelation`). Unsized entries
  *    (no length known at commit) fall back to ONE `listStatus` per
  *    directory, never a stat per file.
  *  - **Chunked segments**: past [[SegmentThreshold]] entries the
  *    file list lives in immutable `_mfseg/<id>` segment files and
  *    the manifest holds `#seg` references. A commit CARRIES every
  *    prior segment whose entries are all retained and writes only
  *    the delta, so append commits cost O(batch) metadata, not
  *    O(table); the single `_manifest.v<N>` flip stays the only
  *    commit point. Vacuum reclaims segments no retained manifest
  *    references.
  */
private[graft] object StoreSwap {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  val ManifestPrefix = "_manifest.v"

  /** Entry counts above this are written as `_mfseg` segments. */
  val SegmentThreshold = 4096
  /** Max entries per new segment file. */
  val SegmentMaxEntries = 16384
  /** Leftover (non-carried) entries up to this stay inline in the
    * manifest; appends therefore cost one small inline block until
    * they roll into a fresh segment. */
  val InlineMax = 1024
  private val SegRef = "#seg\t"

  /** (relpath -> byte length) per store root. Sizes are immutable by
    * protocol — every moved-in name is tag-unique and nothing is ever
    * overwritten in place — so a stale hit is impossible; a miss falls
    * back to one listStatus per DIRECTORY ([[sizesFor]]), never a stat
    * per file. */
  private val sizeCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  private def sizeMap(path: String) =
    sizeCache.computeIfAbsent(path, _ =>
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]())

  /** Parsed entries of immutable `_mfseg` segment files, keyed by
    * `<store>/<segRel>` — a repeat read of an unchanged store skips
    * the O(entries) re-parse entirely (the cold 100k-file read's
    * residual driver cost, paid once per session instead of per read).
    * Bounded LRU: a segment tops out at [[SegmentMaxEntries]] entries
    * (~2 MiB of strings), so the cap bounds driver memory at a few
    * hundred MiB worst-case across many stores. */
  private val SegCacheMax = 256
  private val segCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[String]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[String]]): Boolean =
        size() > SegCacheMax
    })

  /** Drop every per-path cache (sizes, parsed segments, footer
    * schemas) for `path` — called when the path is observed being
    * RE-CREATED (a v1 manifest commit): a store deleted and rebuilt at
    * the same path in one driver session could otherwise serve stale
    * byte lengths (corrupting scan splits) or schemas when file names
    * collide (deterministic names happen — streaming batch tags,
    * externally written files). */
  private[graft] def clearPathCaches(path: String): Unit = {
    sizeCache.remove(path)
    segCache.synchronized {
      val it = segCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(path + "/")) it.remove()
    }
    org.apache.spark.sql.graftshim.ManifestRelation.evictSchemas(path)
  }

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Resolve (relpath, bytes) for manifest entries: cache hits are free
    * (populated at manifest parse and move-in time); misses (unsized
    * entries) batch to one listStatus per parent directory.
    * A file absent from its directory fails loudly at the terminal
    * getFileStatus (a vacuumed-under-reader or torn store). */
  def sizesFor(fs: FileSystem, path: String,
               rels: Seq[String]): Seq[(String, Long)] = {
    val sm = sizeMap(path)
    fillSizes(fs, path, rels.filterNot(sm.containsKey))
    rels.map { r =>
      val l = sm.get(r)
      if (l != null) r -> l.longValue()
      else r -> fs.getFileStatus(new Path(s"$path/$r")).getLen
    }
  }

  /** Batch-resolve sizes for `misses` into the cache: one listStatus
    * per distinct parent directory, never a stat per file. */
  private def fillSizes(fs: FileSystem, path: String,
                        misses: Seq[String]): Unit = {
    if (misses.isEmpty) return
    val sm = sizeMap(path)
    misses.groupBy(r => r.substring(0, math.max(r.lastIndexOf('/'), 0)))
      .keys.foreach { d =>
        val dirPath = new Path(if (d.isEmpty) path else s"$path/$d")
        if (fs.exists(dirPath))
          fs.listStatus(dirPath).foreach { st =>
            if (st.isFile) {
              val rel = if (d.isEmpty) st.getPath.getName
                        else s"$d/${st.getPath.getName}"
              sm.put(rel, st.getLen)
            }
          }
      }
  }

  /** The manifest body for a commit: sized entry lines, rolled into
    * `_mfseg` segments past [[SegmentThreshold]]. Reuse rule: a prior
    * segment is CARRIED (by reference — zero rewrite) when all its
    * entries are retained in this commit's file-set; segments below a
    * quarter of [[SegmentMaxEntries]] dissolve and re-chunk so appends
    * consolidate instead of accreting thousands of tiny segments.
    * Segment files are written complete BEFORE the manifest flip —
    * a crash leaves them as unreferenced garbage for vacuum. */
  private def manifestBody(fs: FileSystem, path: String, version: Int,
                           files: Seq[String]): String = {
    val sm = sizeMap(path)
    fillSizes(fs, path, files.filterNot(sm.containsKey))
    def line(rel: String): String = {
      val l = sm.get(rel)
      if (l == null) rel else s"$rel\t$l"
    }
    val sorted = files.sorted
    if (sorted.length <= SegmentThreshold)
      return sorted.map(line).mkString("", "\n", "\n")
    // segments hold SORTED chunks, so the common prefix of all entries
    // is lcp(first, last) — recorded on the `#seg` ref for pruned
    // resolution ([[manifestEntriesPruned]]); sorted order gives the
    // chunks partition locality, which is what makes the recorded
    // prefixes selective
    def lcp(a: String, b: String): String = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      // never split a surrogate pair: a lone high surrogate would be
      // written as '?' by the UTF-8 encode and the read-back "prefix"
      // would no longer prefix its entries — pruned reads would skip
      // a matching segment silently
      if (i > 0 && Character.isHighSurrogate(a.charAt(i - 1))) i -= 1
      a.substring(0, i)
    }
    def refLine(segRel: String, n: Int, prefix: String): String =
      if (prefix.isEmpty) s"#seg\t$segRel\t$n"
      else s"#seg\t$segRel\t$n\t$prefix"
    val newSet = sorted.toSet
    var covered = Set.empty[String]
    val segLines = Seq.newBuilder[String]
    manifestVersions(fs, path).filter(_ < version).lastOption.foreach { pv =>
      segRefsOf(fs, path, pv).foreach { case (segRel, n, _) =>
        if (n >= SegmentMaxEntries / 4) {
          val es = readSegment(fs, path, segRel, n)
          if (es.nonEmpty && es.forall(e => newSet(e) && !covered(e))) {
            covered ++= es
            // recompute the prefix from the entries (already in hand):
            // a carried prefix-less ref picks one up on this commit
            segLines += refLine(segRel, n, lcp(es.head, es.last))
          }
        }
      }
    }
    val leftover = sorted.filterNot(covered)
    val inline =
      if (leftover.length <= InlineMax) leftover
      else {
        fs.mkdirs(new Path(s"$path/_mfseg"))
        leftover.grouped(SegmentMaxEntries).foreach { chunk =>
          val segRel =
            s"_mfseg/seg_${java.util.UUID.randomUUID().toString.take(12)}"
          val o = fs.create(new Path(s"$path/$segRel"), true)
          try o.write(chunk.map(line).mkString("", "\n", "\n")
            .getBytes("UTF-8"))
          finally o.close()
          segLines += refLine(segRel, chunk.length, lcp(chunk.head, chunk.last))
        }
        Seq.empty[String]
      }
    (segLines.result() ++ inline.map(line)).mkString("", "\n", "\n")
  }

  // -- shared routing/guard helpers (one definition for every family;
  //    these used to be re-implemented per store module) --

  /** stable63-derived id bucket: the delete-path routing every
    * id-bucketed store dir uses — the bucket of any id is computable
    * from the id ALONE, so purges route without scanning. */
  def idBucket(id: org.apache.spark.sql.Column,
               n: Int): org.apache.spark.sql.Column =
    pmod(graft.functions.StableId63.stableId63(id.cast("string")),
      lit(n.toLong))

  /** Partition-prune a store scan to `touched` buckets — skipped when
    * the probe touches every bucket anyway (an isin over the full
    * bucket range prunes nothing and bloats the filter). */
  def prunePartitions(df: DataFrame, partCol: String,
                      touched: Seq[Long], total: Int): DataFrame =
    if (touched.length >= total) df
    else df.where(col(partCol).isin(touched: _*))

  private def writeLayoutFile(fs: FileSystem, p: Path,
                              counts: Seq[(String, Int)]): Unit = {
    val out = fs.create(p, true)
    try out.write(counts.map { case (k, v) => s"$k=$v\n" }
      .mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def readLayoutFile(fs: FileSystem, p: Path): Map[String, Int] = {
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.linesIterator.map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.toInt }.toMap
  }

  /** VERSIONED layout files — `_layout.v<N>`, committed alongside
    * manifest version N by any verb that sets or changes routing
    * values (save, re-bucket), so every later verb routes with the
    * SAME counts the data was written with. An unversioned layout
    * would erase a value's history: a pinned snapshot read would
    * resolve the CURRENT bucket counts / window length against files
    * written with the OLD ones and silently mis-route. Resolution is
    * the floor rule — the highest layout version ≤ the manifest
    * version being read (verbs between layout changes commit
    * manifests without layout files). */
  val LayoutPrefix = "_layout.v"

  def layoutVersions(fs: FileSystem, path: String): Seq[Int] = {
    val root = new Path(path)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(LayoutPrefix))
      .flatMap(n => scala.util.Try(n.drop(LayoutPrefix.length).toInt).toOption)
      .sorted
  }

  /** Claim-or-verify the versioned layout `_layout.v<version>`: a
    * re-run after a crash (same version, same counts) passes
    * idempotently; a RACING writer with DIFFERENT counts fails loudly
    * here, before its manifest claim, so a committed version's layout
    * can never be another writer's counts. Called BEFORE
    * [[commitManifest]] — a crash between the two leaves an orphan
    * layout file no committed manifest resolves, and [[commitManifest]]
    * REFUSES to let a layout-less verb claim that version number (the
    * orphan counts would bind to old-count files and mis-route every
    * pruned read); the remedy is re-running the crashed verb, or
    * vacuuming the aged orphan away when quiescent.
    *
    * Refuses when `_manifest.v<version>` ALREADY exists: the claim is
    * stale — a concurrent layout-less writer (an ingest) committed
    * this version after the caller's entry read, and writing a layout
    * file for it would silently bind never-applied routing counts to
    * files written under the old ones. For the residual window (the
    * manifest lands between this check and the claim), the caller
    * threads the returned `created` flag into
    * [[commitManifest]]`(layoutCreated = …)`, whose CAS-loss path
    * deletes the layout file this invocation created.
    *
    * @return true iff THIS invocation created the versioned file
    *         (false = verified a pre-existing identical claim). */
  def commitLayout(fs: FileSystem, path: String, version: Int,
                   counts: Seq[(String, Int)]): Boolean = {
    fs.mkdirs(new Path(path))
    if (fs.exists(new Path(s"$path/$ManifestPrefix$version")))
      throw new java.util.ConcurrentModificationException(
        s"commitLayout: $path/$ManifestPrefix$version is already " +
          "committed — a concurrent writer claimed this version after " +
          "this verb's entry read, so its layout claim is stale; re-run " +
          "the verb (it will read the new manifest)")
    val dest = new Path(s"$path/$LayoutPrefix$version")
    def verifyOrConflict(): Unit = {
      val existing = readLayoutFile(fs, dest)
      if (existing != counts.toMap)
        throw new java.util.ConcurrentModificationException(
          s"commitLayout: $dest already exists with different values " +
            s"($existing vs ${counts.toMap}) — a concurrent or crashed " +
            "writer claimed this version with other routing counts; " +
            "re-run the verb (it will read the new manifest), or delete " +
            "the orphan layout file if no manifest v" + version + " exists")
    }
    var created = false
    if (fs.exists(dest)) verifyOrConflict()
    else {
      val tmp = new Path(path,
        s"._layout_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      writeLayoutFile(fs, tmp, counts)
      if (fs.getScheme == "file") {
        val raw = (p: Path) => java.nio.file.Paths.get(p.toUri.getPath)
        try { java.nio.file.Files.createLink(raw(dest), raw(tmp)); created = true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => verifyOrConflict()
        }
        fs.delete(tmp, false)
      } else if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        // dest-exists is the CAS-loss case; any OTHER rename failure is
        // an I/O fault and must not masquerade as a concurrency conflict
        // (the misleading "already exists with Map()" diagnosis)
        if (fs.exists(dest)) verifyOrConflict()
        else throw new java.io.IOException(
          s"commitLayout: rename to $dest failed and the destination " +
            "does not exist — an I/O fault, not a concurrent claim; " +
            "nothing is committed, re-run the verb")
      } else created = true
    }
    created
  }

  /** The floor layout at manifest version `asOf`, None when no
    * `_layout.v<k>` with k ≤ `asOf` exists. */
  private def layoutFloor(fs: FileSystem, path: String,
                          asOf: Int): Option[Map[String, Int]] =
    layoutVersions(fs, path).filter(_ <= asOf).lastOption
      .map(v => readLayoutFile(fs, new Path(s"$path/$LayoutPrefix$v")))
      .filter(_.nonEmpty)

  /** The layout in effect at manifest version `asOf`, by the floor
    * rule. Refuses when none resolves: every layout-carrying save
    * commits one with its manifest, so a store without one is torn or
    * hand-built — routing it with default bucket counts would silently
    * miss every pruned read. */
  def readLayoutAt(fs: FileSystem, path: String, asOf: Int): Map[String, Int] =
    layoutFloor(fs, path, asOf).getOrElse(throw new IllegalArgumentException(
      s"$path has no $LayoutPrefix<k> with k <= $asOf (no store layout at " +
        s"manifest v$asOf) — the store is torn or was not written by its " +
        "save verb; re-save it"))

  def manifestVersions(fs: FileSystem, path: String): Seq[Int] = {
    val root = new Path(path)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => scala.util.Try(n.drop(ManifestPrefix.length).toInt).toOption)
      .sorted
  }

  /** One parsed entry line (`relpath` or `relpath<TAB>bytes`): returns
    * the path, recording the size when present. */
  private def parseEntry(sm: java.util.concurrent.ConcurrentHashMap[
      String, java.lang.Long], line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line
    else {
      val rel = line.substring(0, i)
      scala.util.Try(line.substring(i + 1).toLong)
        .foreach(len => sm.put(rel, len))
      rel
    }
  }

  /** Entries of one immutable `_mfseg` segment file, cached per
    * session ([[segCache]] — immutability makes a stale hit
    * impossible; path re-creation evicts via [[clearPathCaches]]). The
    * recorded entry count (from the `#seg` reference) guards against a
    * torn read — by protocol a referenced segment is complete, so a
    * mismatch is store corruption and must be loud. */
  private def readSegment(fs: FileSystem, path: String, segRel: String,
                          expected: Int): Seq[String] = {
    val key = s"$path/$segRel"
    val cached = segCache.get(key)
    val entries =
      if (cached != null) cached
      else {
        val sm = sizeMap(path)
        val parsed = readSmallFile(fs, new Path(key))
          .linesIterator.map(_.trim).filter(_.nonEmpty)
          .map(parseEntry(sm, _)).toVector
        segCache.put(key, parsed)
        parsed
      }
    require(expected < 0 || entries.length == expected,
      s"manifest segment $path/$segRel holds ${entries.length} entries, " +
        s"the manifest recorded $expected — the store is corrupt " +
        "(a referenced segment is immutable by protocol)")
    entries
  }

  /** `(segRel, entryCount, commonPrefix)` references of one manifest
    * version — without expanding them (vacuum retention, commit-time
    * reuse, prefix-pruned resolution). `commonPrefix` is a prefix of
    * EVERY entry in the segment ("" when the ref predates prefix
    * recording), letting a pruned resolution skip whole segments. */
  private def segRefsOf(fs: FileSystem, path: String,
                        v: Int): Seq[(String, Int, String)] =
    readSmallFile(fs, new Path(s"$path/$ManifestPrefix$v"))
      .linesIterator.map(_.trim).filter(_.startsWith(SegRef)).map { l =>
        val parts = l.split("\t")
        (parts(1), parts(2).toInt, if (parts.length > 3) parts(3) else "")
      }.toSeq

  private def readManifest(fs: FileSystem, path: String,
                           v: Int): (Int, Seq[String]) = {
    val text = readSmallFile(fs, new Path(s"$path/$ManifestPrefix$v"))
    val sm = sizeMap(path)
    val out = Seq.newBuilder[String]
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { l =>
      if (l.startsWith(SegRef)) {
        val parts = l.split("\t")
        out ++= readSegment(fs, path, parts(1), parts(2).toInt)
      } else out += parseEntry(sm, l)
    }
    v -> out.result()
  }

  /** Manifest entries under `prefix` ONLY, expanding just the segments
    * that can hold matches: a segment whose recorded common prefix is
    * incompatible with `prefix` (neither extends the other) is skipped
    * without being read or parsed. Sorted-order chunking gives
    * segments partition locality, so a pruned fact read (one year of a
    * 100 TB table) expands O(year) entries instead of O(table) — the
    * driver-side analog of partition pruning, applied to the manifest
    * itself. A prefix-less ref (a chunk with no common prefix) is
    * always expanded. `version` None = latest; Some pins a retained
    * snapshot with [[manifestAt]]'s loud retention contract. */
  def manifestEntriesPruned(fs: FileSystem, path: String,
                            version: Option[Int], prefix: String,
                            verb: String): Seq[String] = {
    val have = manifestVersions(fs, path)
    val v = version match {
      case Some(pv) =>
        require(have.contains(pv),
          s"$verb: $path has no manifest v$pv (retained: " +
            s"${if (have.isEmpty) "none" else have.mkString(",")})")
        pv
      case None => have.lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"$verb: $path is not a committed store layout (no store manifest)"))
    }
    val text =
      try readSmallFile(fs, new Path(s"$path/$ManifestPrefix$v"))
      catch {
        // latest-link reclaimed between listing and read (retention
        // race, see latestManifest) — re-resolve; pinned reads keep
        // the loud FNF (a reclaimed pin is a retention refusal)
        case _: java.io.FileNotFoundException if version.isEmpty =>
          return manifestEntriesPruned(fs, path, version, prefix, verb)
      }
    val sm = sizeMap(path)
    val out = Seq.newBuilder[String]
    text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach { l =>
      if (l.startsWith(SegRef)) {
        val parts = l.split("\t")
        val segPrefix = if (parts.length > 3) parts(3) else ""
        if (segPrefix.startsWith(prefix) || prefix.startsWith(segPrefix))
          out ++= readSegment(fs, path, parts(1), parts(2).toInt)
            .filter(_.startsWith(prefix))
      } else {
        val rel = parseEntry(sm, l)
        if (rel.startsWith(prefix)) out += rel
      }
    }
    out.result()
  }

  /** Delete manifest version-link files beyond the newest
    * `keepVersions` — the streaming-ingest retention verb: every
    * micro-batch commits one `_manifest.v<N>` link, and a long-running
    * ingest without this accretes millions of link files in one
    * directory (version listing cost grows linearly, forever). DATA
    * files are untouched — files listed only by pruned versions become
    * unlisted garbage the store's vacuum verb reclaims on its own
    * schedule, and time travel narrows to the retained window (the
    * same contract as vacuum's `keepVersions`, minus the data
    * reclaim). Safe alongside the commit protocol: the newest link
    * always survives (`keepVersions >= 1`), which is the only version
    * commits and segment-carry read.
    *
    * @return number of link files deleted. */
  def pruneManifestLinks(fs: FileSystem, path: String,
                         keepVersions: Int): Int = {
    require(keepVersions >= 1,
      s"pruneManifestLinks: keepVersions must be >= 1 (got $keepVersions)")
    val drop = manifestVersions(fs, path).dropRight(keepVersions)
    drop.foreach(v => fs.delete(new Path(s"$path/$ManifestPrefix$v"), false))
    drop.length
  }

  /** Latest committed manifest. Retries on a FileNotFoundException
    * between the version listing and the read: retention (vacuum's
    * manifest sweep, [[pruneManifestLinks]] after a streaming batch)
    * may delete the link a reader just listed — by protocol a NEWER
    * link exists whenever an older one is reclaimed, so re-resolving
    * converges; persistent absence (a torn store) stays loud. Pinned
    * reads ([[manifestAt]]) do NOT retry — a reclaimed pinned version
    * is a legitimate retention refusal, not a race. */
  def latestManifest(fs: FileSystem, path: String): Option[(Int, Seq[String])] = {
    var attempt = 0
    while (true) {
      val v = manifestVersions(fs, path).lastOption
      try return v.map(x => readManifest(fs, path, x))
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    None // unreachable
  }

  /** Resolve a PINNED manifest version — the snapshot-read entry: every
    * mutation is copy-on-write behind a fresh manifest, so any version
    * vacuum has not reclaimed is a complete, consistent point-in-time
    * file-set. Refuses loudly (naming the retained window) when the
    * version was never committed or has been vacuumed past. One honest
    * edge: the streaming replay verb (`dropAppendPartials`) physically
    * reclaims a replayed batch's files like a targeted vacuum, so a
    * version listing those files stops being readable — resolution
    * still succeeds but the scan fails loudly on the missing paths,
    * exactly as documented on the replay verbs. */
  def manifestAt(fs: FileSystem, path: String, version: Int)
  : (Int, Seq[String]) = {
    val have = manifestVersions(fs, path)
    require(have.contains(version),
      s"manifestAt: $path has no manifest v$version (retained: " +
        s"${if (have.isEmpty) "none" else have.mkString(",")}) — " +
        "either it was never committed or vacuum reclaimed it; " +
        "re-run vacuum with a larger keepVersions to retain history")
    readManifest(fs, path, version)
  }

  /** Resolve the store's manifest or refuse: every store this module
    * writes commits one at save time, so a path without one is not a
    * store (or a torn save — absent either way). */
  def requireManifest(fs: FileSystem, path: String,
                      verb: String): (Int, Seq[String]) =
    latestManifest(fs, path).getOrElse(throw new IllegalArgumentException(
      s"$verb: $path is not a committed store layout (no store manifest)"))

  /** CAS-committed manifest write — the write-side half of the store's
    * isolation story. The content lands complete in a dot-tmp file first
    * (a partially-written manifest can never be the version a reader
    * resolves), then CLAIMS `_manifest.v<version>` atomically-if-absent:
    *
    *  - `file:` scheme: a hard link (`Files.createLink`) — `link(2)`
    *    fails with EEXIST atomically, so of two racing writers exactly
    *    one wins (a plain rename would silently clobber on POSIX);
    *  - other schemes: `FileSystem.rename`, which on HDFS is atomic and
    *    returns false when the destination exists.
    *
    * The loser gets a [[java.util.ConcurrentModificationException]]:
    * the store advanced under its entry read, so its version-N+1 claim
    * is stale. Nothing it staged is visible (copy-on-write files it
    * moved in are unlisted garbage — vacuum reclaims them); the remedy
    * is to re-run the verb, which re-reads the NEW manifest. This turns
    * the repo-wide single-writer contract from documentation into an
    * enforced optimistic-concurrency protocol: lost updates are
    * impossible, concurrent writers serialize or fail loudly.
    *
    * `layoutCommitted` = this verb committed `_layout.v<version>`
    * itself (saves, re-bucket). A verb that did NOT must refuse when
    * an orphan layout file already claims this version: a
    * layout-writing verb crashed between its two commits, and letting
    * a layout-LESS verb take the version number would bind the
    * never-applied routing counts to files written under the old ones
    * — every pruned read would silently miss. The remedy is loud:
    * re-run the crashed verb (its claim-or-verify passes and it takes
    * this version), or delete the orphan file if that work is
    * abandoned.
    *
    * `layoutCreated` = [[commitLayout]]'s return: THIS invocation
    * physically created `_layout.v<version>`. On a CAS loss the file
    * is deleted before throwing — otherwise it would permanently bind
    * to the WINNER's manifest (committed in the window between
    * commitLayout's manifest check and this claim) and silently
    * resolve never-applied routing counts for every pinned read at
    * that version. Safe because an atomically-created file has exactly
    * one creator: a layout-writing winner would have found it already
    * present and claim-or-verified the SAME counts, so after the
    * delete its readers floor-fall to the counts its files carry only
    * if the values never changed — and concurrent layout-CHANGING
    * verbs are outside the single-writer maintenance contract. */
  def commitManifest(fs: FileSystem, path: String, version: Int,
                     files: Seq[String],
                     layoutCommitted: Boolean = false,
                     layoutCreated: Boolean = false): Unit = {
    // ORPHAN check only: a layout file whose manifest version IS
    // committed is a live layout, and the right diagnosis for this
    // caller is the ordinary CAS conflict below (its version claim is
    // stale) — never an instruction to delete a layout a committed
    // manifest resolves
    if (!layoutCommitted &&
        fs.exists(new Path(s"$path/$LayoutPrefix$version")) &&
        !fs.exists(new Path(s"$path/$ManifestPrefix$version")))
      throw new java.util.ConcurrentModificationException(
        s"commitManifest: $path/$LayoutPrefix$version exists but this verb " +
          "did not commit it and no manifest v" + version + " exists — a " +
          "layout-writing verb (save/re-bucket) crashed between its " +
          "layout and manifest commits. Re-run that verb to complete it, " +
          "or delete the orphan layout file if its work is abandoned; " +
          "committing past it would mis-route every version-pinned read")
    // a v1 commit means the path is being (re-)created as a store:
    // evict any caches a PRIOR store at this path populated, so a
    // deleted-and-rebuilt store with colliding deterministic file
    // names (streaming batch tags, externally written files) can
    // never resolve stale sizes or schemas. Before the body build —
    // manifestBody consumes the size cache. Deliberate trade: the
    // eviction also drops the sizes THIS verb's move-in just recorded,
    // so a bootstrap commit re-resolves them at one listStatus per
    // directory — a bounded, creation-time-only cost bought for
    // immunity to stale entries the commit itself cannot distinguish
    // from fresh ones.
    if (version == 1) clearPathCaches(path)
    val dest = new Path(s"$path/$ManifestPrefix$version")
    def lost(): Nothing = {
      // release the layout claim this invocation created — left in
      // place it would bind to the WINNER's manifest (see scaladoc).
      // The delete is the right call for every in-contract winner (a
      // layout-less ingest — the only verb allowed to race maintenance
      // — must not inherit never-applied routing counts). The one
      // residual: a same-counts layout-CHANGING winner (two concurrent
      // re-buckets — outside the single-writer maintenance contract)
      // claim-or-verified this very file and is left floor-resolving
      // the PRIOR counts. That case is undetectable here, so instead
      // of failing silently either way, the conflict message names it
      // and the remedy whenever the released counts differ from the
      // floor the winner now resolves.
      val layoutNote =
        if (!layoutCreated) ""
        else {
          val mine = layoutFloor(fs, path, version).getOrElse(Map.empty)
          fs.delete(new Path(s"$path/$LayoutPrefix$version"), false)
          val floor = layoutFloor(fs, path, version).getOrElse(Map.empty)
          if (mine == floor) ""
          else
            s" NOTE: this verb's layout claim $LayoutPrefix$version " +
              s"(${mine.toSeq.sorted.mkString(",")}) was released; the " +
              s"winner's v$version now floor-resolves " +
              s"(${floor.toSeq.sorted.mkString(",")}). If the winner was " +
              "a concurrent layout-CHANGING verb with identical counts " +
              "(outside the single-writer maintenance contract), re-run " +
              "it or restore its layout file — its files were written " +
              "under the released counts."
        }
      throw new java.util.ConcurrentModificationException(
        s"commitManifest: $dest already exists — a concurrent writer " +
          "committed since this verb read the manifest. Nothing from " +
          "this attempt is visible; re-run the verb (it will read the " +
          "new manifest) and vacuum when quiescent to reclaim the " +
          "attempt's unlisted files." + layoutNote)
    }
    // cheap pre-check BEFORE the body build: on a big store manifestBody
    // writes segment files — an already-lost CAS should cost one
    // exists() probe, not a segment roll stranded as vacuum garbage
    if (fs.exists(dest)) lost()
    val body = manifestBody(fs, path, version, files)
    val tmp = new Path(path,
      s"._manifest_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    def conflict(): Nothing = {
      fs.delete(tmp, false)
      lost()
    }
    if (fs.exists(dest)) conflict()
    if (fs.getScheme == "file") {
      val raw = (p: Path) => java.nio.file.Paths.get(p.toUri.getPath)
      try java.nio.file.Files.createLink(raw(dest), raw(tmp))
      catch { case _: java.nio.file.FileAlreadyExistsException => conflict() }
      fs.delete(tmp, false)
    } else if (!fs.rename(tmp, dest)) {
      // dest-exists is the CAS loss; any other rename failure is an
      // I/O fault and must not be diagnosed as a concurrency conflict
      if (fs.exists(dest)) conflict()
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"commitManifest: rename to $dest failed and the destination " +
          "does not exist — an I/O fault, not a concurrent claim; " +
          "nothing is committed, re-run the verb")
    }
  }

  /** All parquet files currently under a store directory, as
    * store-relative paths — RECURSIVE to any partition depth (flat
    * `dir/file.parquet`, one-level `dir/part=v/file.parquet`,
    * two-level `dir/p_year=Y/p_month=M/file.parquet`, …). Depth-2+
    * layouts used to be silently unlisted here — which would have made
    * the next vacuum DELETE live files of any multi-level family. */
  def listDirFiles(fs: FileSystem, path: String, dir: String): Seq[String] = {
    val base = new Path(s"$path/$dir")
    if (!fs.exists(base)) return Seq.empty
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val childRel = s"$rel/${st.getPath.getName}"
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) Seq(childRel)
        else if (st.isDirectory) walk(st.getPath, childRel)
        else Seq.empty
      }
    walk(base, dir)
  }

  /** Manifest-resolved read of one store directory: only the files the
    * manifest lists exist for this reader, with any partition column
    * recovered from the paths and partition pruning intact. The scan's
    * file-index is built from manifest metadata alone
    * (`ManifestRelation`) — ZERO filesystem listing calls, vs the
    * measured ~2.5 ms PER FILE of Spark's explicit-multi-path read
    * (at 100 TB ≈ 800k files ≈ half an hour of driver time per cold
    * read, pruned or not, under the old path). Partition filters —
    * static and dynamic — prune inside the index, so a pruned read
    * never materializes non-matching files into the scan. */
  def readStoreDir(spark: SparkSession, path: String, dir: String,
                   manifestFiles: Seq[String]): DataFrame = {
    val mine = manifestFiles.filter(_.startsWith(dir + "/"))
    require(mine.nonEmpty,
      s"readStoreDir: the store manifest at $path lists no $dir files")
    val sized = sizesFor(fsOf(spark, path), path, mine)
    org.apache.spark.sql.graftshim.ManifestRelation.parquet(
      spark, s"$path/$dir",
      sized.map { case (rel, len) => (rel.stripPrefix(dir + "/"), len) })
  }

  /** Move every staged file under `tmpRoot` into the live `dir` under a
    * fresh `tag`-prefixed name (copy-on-write: nothing in the live tree
    * is deleted or overwritten), returning the moved files'
    * store-relative paths. RECURSIVE: flat and any-depth partitioned
    * staged layouts keep their relative partition dirs; the staging
    * root is dropped. */
  def moveStagedIn(fs: FileSystem, path: String, dir: String,
                   tmpRoot: Path, tag: String): Seq[String] = {
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, relDir: String): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val liveDir = new Path(s"$path/$relDir")
          fs.mkdirs(liveDir)
          val name = s"$tag${st.getPath.getName}"
          require(fs.rename(st.getPath, new Path(liveDir, name)),
            s"moveStagedIn: rename of ${st.getPath} into $liveDir failed — " +
              "nothing is visible yet; re-run the verb")
          val rel = s"$relDir/$name"
          // record the size at move time: the commit then writes a
          // fully-sized manifest with zero additional FS calls
          sizeMap(path).put(rel, st.getLen)
          moved += rel
        } else if (st.isDirectory)
          walk(st.getPath, s"$relDir/${st.getPath.getName}")
      }
    if (fs.exists(tmpRoot)) {
      walk(tmpRoot, dir)
      fs.delete(tmpRoot, true)
    }
    moved.toSeq
  }

  /** The staging protocol every mutation verb follows, in one place:
    * build an invocation-unique dot-prefixed staging root next to the
    * live tree (the name matches vacuum's `^\.[a-z]+_stage_` sweep),
    * let the caller write into it, then move the staged files in
    * copy-on-write under `tag`-prefixed names ([[moveStagedIn]]).
    * Returns the moved files' store-relative paths for the caller's
    * manifest flip. */
  def stageAndMoveIn(fs: FileSystem, path: String, dir: String,
                     verb: String, tag: String)
                    (write: String => Unit): Seq[String] = {
    // the staging ROOT is always invocation-unique, even when the
    // caller's file tag is deterministic (a streaming replay prefix):
    // two writers replaying the same batch must never share a root —
    // one's delete would eat the other's in-flight staged output and a
    // torn MIX could move in
    val tmpRoot = new Path(path,
      s".${verb}_stage_${java.util.UUID.randomUUID().toString.take(8)}_$dir")
    fs.delete(tmpRoot, true)
    write(tmpRoot.toString)
    moveStagedIn(fs, path, dir, tmpRoot, tag)
  }

  /** Drop every file no RETAINED manifest lists — the shared retention
    * verb: reclaims copy-on-write garbage (unflipped crash leftovers,
    * superseded rewrite inputs, a losing CAS writer's moved-in files),
    * empty partition dirs, manifest versions older than the retained
    * window, and leftover staging roots.
    *
    * `keepVersions` is the time-travel retention knob: the newest K
    * manifests survive, and with them every file any of them lists, so
    * a snapshot read pinned inside the window ([[manifestAt]]) stays
    * complete. The default (1) is pure garbage collection — history
    * collapses to the present, exactly the pre-retention behavior.
    * Versioned layout files follow the same window (the floor layout
    * of the oldest kept manifest survives, so every retained snapshot
    * still resolves the routing values it was written with).
    *
    * `graceMs` scopes the sweep to bytes OLDER than the horizon: with
    * the default 0, vacuum assumes QUIESCENCE — a concurrent in-flight
    * verb's staging root, tmp manifest, or moved-in-but-not-yet-
    * flipped files are indistinguishable from crash garbage and WILL
    * be deleted (the verb then fails loudly at its rename or commits a
    * manifest listing deleted files). Pass a horizon comfortably above
    * the longest verb runtime (e.g. 1h) to vacuum safely alongside
    * live writers: anything younger than the horizon is presumed
    * in-flight and left alone, and the next vacuum reclaims it once
    * it has aged past.
    *
    * @return number of data files deleted. */
  def vacuumManifested(spark: SparkSession, path: String,
                       dirs: Seq[String], verb: String,
                       keepVersions: Int = 1, graceMs: Long = 0L): Long = {
    require(keepVersions >= 1,
      s"$verb: keepVersions must be >= 1 (got $keepVersions) — " +
        "vacuum never deletes the latest manifest's file-set")
    require(graceMs >= 0L, s"$verb: graceMs must be >= 0 (got $graceMs)")
    val fs = fsOf(spark, path)
    requireManifest(fs, path, verb)
    val cutoff = System.currentTimeMillis() - graceMs
    // a path can vanish between listing and stat when a live writer
    // finishes its move mid-sweep (the graced mode's normal case) —
    // already-gone means nothing to delete, never an abort
    def aged(p: Path): Boolean =
      graceMs == 0L || {
        try fs.getFileStatus(p).getModificationTime < cutoff
        catch { case _: java.io.FileNotFoundException => false }
      }
    // ONE versions snapshot drives retention end to end: re-listing at
    // the manifest sweep would catch (and DELETE) a version a live
    // writer committed mid-vacuum — silent loss of a committed write
    val allVersions = manifestVersions(fs, path)
    val kept = allVersions.takeRight(keepVersions)
    val listed = kept.flatMap(v => readManifest(fs, path, v)._2).toSet
    var dropped = 0L
    dirs.foreach { dir =>
      listDirFiles(fs, path, dir).filterNot(listed).foreach { rel =>
        val p = new Path(s"$path/$rel")
        if (aged(p)) {
          fs.delete(p, false)
          dropped += 1
        }
      }
      // prune now-empty partition dirs bottom-up (any depth).
      // NON-recursive delete: a live writer's moveStagedIn
      // (mkdirs+rename) landing between the emptiness judgement and
      // the delete makes the delete FAIL instead of eating the
      // writer's just-moved file (a recursive delete here would let a
      // graced vacuum destroy a file a concurrent verb then commits)
      def pruneEmpty(p: Path): Boolean = { // returns "now empty"
        val children = fs.listStatus(p).toSeq
        val remaining = children.filterNot(st =>
          st.isDirectory && pruneEmpty(st.getPath) && aged(st.getPath) && {
            try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => false }
          })
        remaining.isEmpty
      }
      val root = new Path(s"$path/$dir")
      if (fs.exists(root)) pruneEmpty(root)
    }
    allVersions.filterNot(kept.contains).foreach(v =>
      fs.delete(new Path(s"$path/$ManifestPrefix$v"), false))
    // segment retention: a segment referenced by ANY kept manifest
    // survives (segments are shared across versions by the carry
    // rule); unreferenced aged ones — dropped by later commits, or a
    // crashed commit's never-referenced writes — reclaim here
    val segRoot = new Path(s"$path/_mfseg")
    if (fs.exists(segRoot)) {
      val referenced = kept.flatMap(v => segRefsOf(fs, path, v))
        .map(_._1).toSet
      fs.listStatus(segRoot).toSeq
        .filter(st => st.isFile &&
          !referenced(s"_mfseg/${st.getPath.getName}"))
        .filter(st => graceMs == 0L || st.getModificationTime < cutoff)
        .foreach(st => fs.delete(st.getPath, false))
    }
    // layout retention: keep the floor layout of the oldest kept
    // manifest and everything after it — and reclaim ORPHAN layouts
    // above the newest committed manifest (a crashed layout-writing
    // verb's leftover, which commitManifest refuses to commit past;
    // vacuum is the quiescent reclaim point for its staging too)
    kept.headOption.foreach { oldestKept =>
      val lvs = layoutVersions(fs, path)
      lvs.filter(_ <= oldestKept).lastOption.foreach { floor =>
        lvs.filter(_ < floor).foreach(v =>
          fs.delete(new Path(s"$path/$LayoutPrefix$v"), false))
      }
      allVersions.lastOption.foreach { newest =>
        lvs.filter(_ > newest)
          .filter(v => aged(new Path(s"$path/$LayoutPrefix$v")))
          .foreach(v => fs.delete(new Path(s"$path/$LayoutPrefix$v"), false))
      }
    }
    fs.listStatus(new Path(path)).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith("._manifest_tmp_") || n.startsWith("._layout_tmp_") ||
          n.matches("^\\.[a-z]+_stage_.*")
      }
      .filter(s => graceMs == 0L || s.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
    dropped
  }

  /** Fold every multi-file partition (multi-file BY THE MANIFEST —
    * unlisted garbage never gets compacted into the store) of the given
    * `(dir, partCol)` pairs into ~`targetBytes` files, as one
    * partition-pruned job per directory staged then moved in
    * copy-on-write, with ONE manifest flip across all directories.
    * Callers follow with the store's vacuum verb (compaction is already
    * gated on "no ingest in flight"). */
  def compactManifested(spark: SparkSession, path: String,
                        dirs: Seq[(String, String)], verb: String,
                        targetBytes: Long): Unit = {
    val fs = fsOf(spark, path)
    val (mfVersion, mfFiles) = requireManifest(fs, path, verb)
    val tag = s"c${java.util.UUID.randomUUID().toString.take(8)}_"
    var moved = Seq.empty[String]
    var dropped = Set.empty[String]
    dirs.foreach { case (dir, partCol) =>
      val groups = mfFiles.filter(_.startsWith(dir + "/"))
        .filter(_.count(_ == '/') == 2) // partitioned entries only
        .groupBy(_.split("/")(1))
        .filter(_._2.length > 1)
      if (groups.nonEmpty && fs.exists(new Path(s"$path/$dir"))) {
        val slices = groups.toSeq.map { case (partName, fls) =>
          val bytes = sizesFor(fs, path, fls).map(_._2).sum
          partName.split("=", 2)(1).toLong ->
            math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        }.sortBy(_._1)
        val pruned = readStoreDir(spark, path, dir, mfFiles)
          .where(col(partCol).isin(slices.map(_._1): _*))
        // deterministic content-hash slice for oversized partitions
        // (never repartition on a nondeterministic column — task
        // retries would duplicate or drop rows)
        val sliceExpr = slices.filter(_._2 > 1).foldLeft(lit(0)) {
          case (acc, (v, n)) =>
            when(col(partCol) === lit(v),
              pmod(hash(pruned.columns.map(col): _*), lit(n))).otherwise(acc)
        }
        moved = moved ++ stageAndMoveIn(fs, path, dir, "compact", tag)(
          root => pruned.withColumn("__slice", sliceExpr)
            .repartition(slices.map(_._2).sum, col(partCol), col("__slice"))
            .drop("__slice")
            .write.mode("overwrite").partitionBy(partCol)
            .parquet(root))
        dropped = dropped ++ groups.values.flatten
      }
    }
    if (dropped.nonEmpty)
      commitManifest(fs, path, mfVersion + 1,
        mfFiles.filterNot(dropped) ++ moved)
  }
}
