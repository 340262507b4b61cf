package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    // ERROR: known-benign warnings (e.g. the documented single-partition
    // windows over aggregated frames, SCALE.md) must not pollute the
    // measured output this main exists to print
    spark.sparkContext.setLogLevel("ERROR")
    // warm up JVM/codegen/parquet reader once so the first timed query
    // doesn't absorb ~3s of session initialization
    spark.range(1000).selectExpr("sum(id)").collect()
    try org.apache.spark.sql.graftshim.ManifestRelation
      .readParquet(spark, s"$sfDir/nation.parquet").count()
    catch { case scala.util.control.NonFatal(_) => () }
    // HOST-STATE CALIBRATION (advice r13): full-bench totals moved
    // 1.2-1.5x on byte-identical plans two rounds running, and each
    // adjudication cost a day of isolated re-measures. A pinned
    // synthetic workload (generated data — no I/O, no plan changes
    // round-over-round) timed at bench start AND end, plus
    // /proc/loadavg at both points, makes the next smear
    // self-adjudicating: if calib moved with the totals, it's the
    // host; if calib held, it's the code.
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split("\\s+").take(3).mkString(",")
      catch { case scala.util.control.NonFatal(_) => "" }
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 400M full-range hashes overflows long
      // under ANSI (measured — it killed the whole bench run)
      spark.range(0L, 400000000L, 1L, 32)
        .selectExpr("id % 1024 AS k", "xxhash64(id) AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(h)"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // untimed: JIT/codegen for the probe itself
    val calibStart = calibrate()
    val loadStart = loadavg()
    // Force FULL evaluation of every output column: count() lets Catalyst
    // prune unevaluated projections, so projection-only queries would
    // benchmark a bare scan instead of their operator. The noop sink
    // evaluates each row without write-side cost.
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    // Cross-query state sweep, OUTSIDE every timed window. Round 8's
    // recorded 2x blowup (q20 18.4s in-run vs 2.2s standalone on the same
    // binary) was the harness, not the code: clearCache() alone does not
    // free (a) localCheckpoint RDD blocks — they are persistent RDDs in
    // the block manager, not cache-manager entries; (b) state-store
    // providers — each drained streaming run uses a fresh checkpoint dir,
    // so its per-partition providers (full state maps in memory) stay in
    // the process-global registry forever; (c) lingering streams from a
    // query that died mid-drain. 113 queries x 4 passes accumulated all
    // three until the block manager poisoned unrelated timings.
    // per-query failure counts: run()/sweep() must not abort the whole
    // bench on one broken query, but a query that fails every pass must
    // not silently report a median "timing" either (advice r9) — failures
    // land in the printed JSON and non-zero totals flag the run.
    val failures = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def sweep(): Unit = {
      spark.streams.active.foreach(q =>
        try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      spark.sharedState.cacheManager.clearCache()
      // INVARIANT this blanket unpersist imposes on Queries: cross-query
      // memos must hold durable FILES only — a memoized localCheckpoint
      // frame would die on reuse with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
      // once its blocks are freed here. Queries.staged enforces it by
      // type (it returns only a java.io.File); the bucketed catalog
      // tables and the parquet-backed incremental warehouse keep it by hand
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      org.apache.spark.sql.graftbridge.StateBridge.unloadAllStateStores()
    }
    // steady-state measurement: one untimed warm pass (JIT/codegen/page
    // cache), then timed passes. SPARK_GRAFT_ONLY=q19,q34 narrows the set
    // for focused profiling (unset in driver runs -> full set).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(o => o.exists(n.startsWith)))
    names.foreach { name =>
      try run(name) catch {
        case scala.util.control.NonFatal(e) =>
          failures(name) += 1
          System.err.println(s"[bench] warm $name failed: ${e.getMessage}")
      }
      sweep()
    }
    // median-of-3: single-shot per-query numbers at this scale showed
    // 4-7x run-to-run swings on unchanged trivial queries (round 2)
    val passes = 3
    // per-pass calibration (r19, verdict r18 wrong #2): the r18 driver
    // run recorded host load climbing 3.9 → 11.5 mid-run and its tail
    // queries 3-9x their quiet-host cost; the start/end probes alone
    // cannot attribute WHICH pass was loaded. One pinned probe per pass
    // (outside every timed window) lets per-query samples be
    // load-corrected at pass granularity before the median — emitted as
    // a SEPARATE map; the raw `queries` stay the primary metric.
    val calibPass = new Array[Double](passes)
    val samples = Array.tabulate(passes) { p =>
      // per-pass GC: broadcast-exchange blocks (hashed join relations)
      // are freed by the ContextCleaner only after their plans become
      // unreachable AND a GC runs — the default periodic GC (30 min)
      // never fires inside a bench pass, so force one here, outside any
      // timed window
      System.gc()
      calibPass(p) = calibrate()
      // rotate the order per pass: with a FIXED order the same query
      // (q01, alphabetically first) absorbs the post-clearCache cold
      // cost in every pass, so even the median carried a ~2x ordering
      // artifact on an unchanged plan (rounds 6->7). Rotation puts each
      // query first in at most one pass; the median ignores it.
      val off = p * names.length / passes
      val rotated = names.drop(off) ++ names.take(off)
      rotated.map { name =>
        val t0 = System.nanoTime()
        val ok = try { run(name); true } catch {
          case scala.util.control.NonFatal(e) =>
            failures(name) += 1
            System.err.println(s"[bench] pass $p $name failed: ${e.getMessage}")
            false
        }
        // a failed pass aborts near-instantly, so its wall time is a lie
        // that would drag the median down (advice r10): record NaN and
        // exclude it below; a query with zero successful passes emits
        // null, never a number
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        sweep()
        name -> dt
      }.toMap
    }
    // median over SUCCESSFUL passes only (upper median when 2 survive);
    // all-failed -> NaN, rendered as JSON null and excluded from total
    val results = names.map { name =>
      val xs = samples.map(_(name)).filterNot(_.isNaN).sorted
      name -> (if (xs.isEmpty) Double.NaN else xs(xs.length / 2))
    }.toMap
    def fmt(v: Double): String =
      if (v.isNaN) "null"
      else java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val calibEnd = calibrate()
    val loadEnd = loadavg()
    val total = results.values.filterNot(_.isNaN).sum
    // stdout line must fit the driver's 2000-char tail capture (the full
    // 80-query map with long names + full-precision doubles is ~2.7k and
    // got front-truncated in rounds 4/5 -> "parsed": null). Short keys
    // (the unambiguous qNN prefix) + ms precision keep it ~1.1k.
    val shortQs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    // failed runs are zero-cost no-ops, so their "timings" are lies —
    // surface the count inline (and the names when any exist)
    val failJson = if (failures.isEmpty) "" else
      ",\"failed\":" + failures.toSeq.sortBy(_._1).map { case (k, n) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + n
      }.mkString("{", ",", "}")
    // calibration-corrected total (verdict r14 #8): the pinned probe's
    // UNLOADED duration on this host is ~0.40 s (measured across the
    // r13/r14 runs at loadavg < 1); scaling the raw total by
    // ref / mean(calib start, end) folds ambient host load out of the
    // round-over-round comparison so it stops needing manual
    // adjudication. First-order only — load is not perfectly linear in
    // wall time — so BOTH totals are emitted and the raw one stays the
    // primary metric.
    val calibRef = 0.40
    val calibMean = (calibStart + calibEnd) / 2.0
    val totalCal = if (calibMean > 0) total * (calibRef / calibMean) else total
    // pass-granular load correction: each pass's samples scale by
    // ref/its own probe, THEN the median — a loaded tail pass corrects
    // itself instead of smearing into the reported median
    val resultsCal = names.map { name =>
      val xs = samples.indices
        .map(p => samples(p)(name) * (calibRef / math.max(1e-9, calibPass(p))))
        .filterNot(_.isNaN).sorted
      name -> (if (xs.isEmpty) Double.NaN else xs(xs.length / 2))
    }.toMap
    val totalCalPp = resultsCal.values.filterNot(_.isNaN).sum
    val calibJson =
      s""","calib":{"start":${fmt(calibStart)},"end":${fmt(calibEnd)},""" +
        s""""passes":${calibPass.map(fmt).mkString("[", ",", "]")},""" +
        s""""load_start":"$loadStart","load_end":"$loadEnd"}""" +
        s""","total_s_calibrated":${fmt(totalCal)}""" +
        s""","total_s_calibrated_pp":${fmt(totalCalPp)}"""
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$shortQs$failJson$calibJson,"sf":"$sfDir"}""")
    // full names + full precision land in a file: a truncated stdout tail
    // (round 3 lost 7 per-query numbers) must not lose the measurement
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + (if (v.isNaN) "null" else v.toString)
    }.mkString("{", ",", "}")
    // per-query load-corrected medians: FILE ONLY — doubling the stdout
    // line re-risks the tail truncation that killed the r17 parse
    val qsCal = resultsCal.toSeq.sortBy(_._1).map { case (k, v) =>
      s"\"" + k + "\":" + (if (v.isNaN) "null" else v.toString)
    }.mkString("{", ",", "}")
    val failFull = if (failures.isEmpty) "" else
      ",\"failed\":" + failures.toSeq.sortBy(_._1).map { case (k, n) =>
        "\"" + k + "\":" + n
      }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_cal":$qsCal$failFull$calibJson,"sf":"$sfDir"}"""
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
