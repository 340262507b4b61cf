package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Single place the engine builds its SparkSession: local[N] with
  * N-matched shuffle partitions, UTC, AQE on, and [[GraftExtensions]]
  * installed (native-function registration + optimizer rewrites).
  *
  * On a real cluster the same settings travel via spark-submit confs; the
  * extension class is the only non-default requirement
  * (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object GraftSession {
  def build(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Default 10MB broadcast threshold is sized for small executors; on
      // this 128 GiB single JVM a 64MB build side is trivially resident
      // and turns the mid-size dimension joins (orders at sf0.1 ≈ 15MB)
      // into broadcasts — no probe-side shuffle. On a cluster, size this
      // to executor memory; the big-fact joins stay shuffles regardless.
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      // The engine caches only narrow, hot frames (the 8-column ETL
      // staging projection) — for those, columnar-cache compression codecs
      // cost more CPU at build time than the memory they save (measured
      // ~2s of a 7.5s ETL query at sf0.1). Wide/cold caches would choose
      // the opposite; we don't create any.
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // Whole-stage-codegen class cache (static conf, default 100). The
      // engine's query surface alone spans hundreds of distinct codegen
      // units; at 100 the cache thrashes and EVERY run of a mixed
      // workload pays Janino recompilation for EVERY stage — measured
      // round 10: q34 (the multi-stage ETL) 6.5 s -> 2.6 s at sf0.1, the
      // whole q29-q49 bench block 15.5 s -> 9.3 s, purely driver-side
      // compile time. Cost is metaspace for compiled classes (~KBs per
      // entry). Round 11 raised the default to 20000 as HEADROOM for the
      // 131-query surface (an A/B at 5000 vs 20000 under ambient host
      // variance was inconclusive — SCALE.md r11 notes the measurement).
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.session.timeZone", "UTC")
      // catalog tables (the bucketed warehouse) live under tmp, not the
      // source tree
      .config("spark.sql.warehouse.dir",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_spark_warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
