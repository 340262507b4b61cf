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
  /** The one size that decides join strategy, in bytes. The planner and
    * AQE broadcast a join side whose (estimated, then observed) size is
    * under it; AQE turns a sort-merge join into a shuffled hash join
    * when every map-output partition of the build side is under it, and
    * otherwise keeps the sort-merge join, which can spill. The local-map
    * threshold takes effect only at or above
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB default).
    * The default broadcast threshold is 10 MB; 64 MB turns the mid-size
    * dimension joins (orders at sf0.1 ≈ 15 MB) into broadcasts. On a
    * cluster, size it to executor memory. An operator hints a strategy
    * only with a same-session sf0.1 A/B number beside the hint;
    * `JoinStrategySpec` fails on any other. */
  val JoinSizeThreshold: Long = 64L * 1024 * 1024

  /** The three byte-size confs that apply [[JoinSizeThreshold]]. */
  val JoinConfs: Map[String, String] = Seq(
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
    .map(_ -> s"$JoinSizeThreshold").toMap

  def build(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config(JoinConfs)
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
