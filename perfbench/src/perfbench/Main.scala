package perfbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Closed-loop benchmark: one client runs a workload's queries
  * one after another through `SparkEntry.queries`, in one process.
  *
  * After the session is built the JVM prints READY and waits for a line
  * on stdin, so the front end (run.py) can time set-up and keep the
  * measured passes free of its set-up probes. Then, in order:
  *   1. cold: the first pass in this fresh process;
  *   2. warm: passes until `--seconds` have been measured, at least
  *      `--min-passes`. In the last one, after each query's timed window,
  *      its result is reduced to an order-insensitive fingerprint.
  *
  * With `--trace 1` the cold pass and every other warm pass run with
  * listeners attached ([[Tracer]]); the untraced warm passes in between
  * give the tracing overhead. The record goes to `--out` as JSON.
  *
  * Usage: Main --cpus N --data DIR --queries q1,q2 --seed S --seconds T
  *             --min-passes K --trace 0|1 --out FILE
  *        Main --cpus N --setup-only 1
  */
object Main {
  final case class Sample(query: String, ok: Boolean, startNs: Long,
                          buildEndNs: Long, endNs: Long, error: String)

  final case class Pass(kind: String, traced: Boolean, startNs: Long,
                        endNs: Long, cleanupNs: Long, samples: Seq[Sample],
                        trace: Option[Tracer.PassTrace])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.build(opts("cpus"))
    spark.sparkContext.setLogLevel("ERROR")
    // the front end times process start -> this line as set-up
    println("READY")
    System.out.flush()
    if (opts.contains("setup-only")) { spark.stop(); return }
    scala.io.StdIn.readLine()
    try run(spark, opts) finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val dataDir = opts("data")
    val queries = opts("queries").split(",").toSeq
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val fns = queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q"))).toMap
    val tracer = new Tracer(spark, dataDir)
    val sc = spark.sparkContext
    var attempted = 0L

    def runQuery(name: String): (Sample, Option[DataFrame]) = {
      attempted += 1
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = fns(name)(spark, dataDir)
        t1 = System.nanoTime()
        // noop sink: evaluates every output column, writes nothing
        df.write.format("noop").mode("overwrite").save()
        (Sample(name, ok = true, t0, t1, System.nanoTime(), ""), Some(df))
      } catch {
        case NonFatal(e) =>
          val t2 = System.nanoTime()
          (Sample(name, ok = false, t0, if (t1 == t0) t2 else t1, t2,
            String.valueOf(e.getMessage).take(300)), None)
      } finally sc.clearJobGroup()
    }

    val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, (Long, String)]]
    def check(name: String, df: Option[DataFrame]): Unit = {
      attempted += 1
      fingerprints(name) = df.toRight("the query failed").flatMap(d =>
        try Right(fingerprint(d))
        catch { case NonFatal(e) => Left(String.valueOf(e.getMessage).take(300)) })
    }

    // Same cross-query sweep as graft.Bench: streams, cached frames,
    // checkpoint blocks and state-store providers left by one query must
    // not slow the next.
    def sweep(): Unit = {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      org.apache.spark.sql.perfbench.Bridge.unloadAllStateStores()
    }

    def pass(kind: String, order: Seq[String], withTrace: Boolean,
             checked: Boolean = false): Pass = {
      System.gc()
      if (withTrace) tracer.attach() else tracer.detach()
      val samples = ArrayBuffer.empty[Sample]
      var cleanup = 0L
      val start = System.nanoTime()
      order.foreach { q =>
        val (s, df) = runQuery(q)
        samples += s
        val c0 = System.nanoTime()
        if (withTrace) tracer.endQuery(s)
        if (checked) {
          check(q, df)
          if (withTrace) tracer.discard()
        }
        sweep()
        cleanup += System.nanoTime() - c0
      }
      val end = System.nanoTime()
      val trace = if (withTrace) Some(tracer.endPass()) else None
      Pass(kind, withTrace, start, end, cleanup, samples.toSeq, trace)
    }

    def shuffled(p: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + p).shuffle(queries)

    val loadStart = Host.loadavg()
    val passes = ArrayBuffer.empty[Pass]
    tracer.start()
    passes += pass("cold", shuffled(0), traced)

    // Warm passes until `seconds` of pass time are measured and at least
    // `minPasses` ran; traced runs alternate traced and untraced passes.
    // The pass expected to be the last (by the previous pass's length)
    // also checks outputs, after each query's timed window.
    val minPasses = opts("min-passes").toInt
    val warmStart = System.nanoTime()
    var p = 1
    var last = false
    while (!last) {
      val elapsed = (System.nanoTime() - warmStart) / 1e9
      val previous = passes.last
      last = p >= minPasses && elapsed + (previous.endNs - previous.startNs) / 1e9 >= seconds
      passes += pass("warm", shuffled(p), traced && p % 2 == 1, checked = last)
      p += 1
    }
    tracer.detach()
    val loadEnd = Host.loadavg()

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""attempted":$attempted,"load_start":${Json.str(loadStart)},"load_end":${Json.str(loadEnd)},"""
    json ++= s""""peak_rss_mb":${Host.peakRssMb()},"""
    json ++= "\"fingerprints\":" + fingerprints.toSeq.map {
      case (q, Right((rows, hash))) => s"""${Json.str(q)}:{"rows":$rows,"hash":${Json.str(hash)}}"""
      case (q, Left(err)) => s"""${Json.str(q)}:{"error":${Json.str(err)}}"""
    }.mkString("{", ",", "},")
    json ++= "\"passes\":" + passes.map(passJson).mkString("[", ",", "]")
    json ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), json.toString)
    if (traced) tracer.writeSpans(opts("out") + ".spans.jsonl", passes.toSeq)
  }

  private def passJson(p: Pass): String = {
    val qs = p.samples.map { s =>
      s"""{"q":${Json.str(s.query)},"ok":${s.ok},"build_s":${(s.buildEndNs - s.startNs) / 1e9},""" +
        s""""exec_s":${(s.endNs - s.buildEndNs) / 1e9},"total_s":${(s.endNs - s.startNs) / 1e9}""" +
        (if (s.ok) "" else s""","error":${Json.str(s.error)}""") + "}"
    }.mkString("[", ",", "]")
    s"""{"kind":"${p.kind}","traced":${p.traced},"wall_s":${(p.endNs - p.startNs) / 1e9},""" +
      s""""cleanup_s":${p.cleanupNs / 1e9},"queries":$qs""" +
      p.trace.map(t => ",\"layers\":" + t.json).getOrElse("") + "}"
  }

  /** Row count plus the exact sum of per-row xxhash64 values: independent
    * of row order and partitioning, sensitive to every value. Map-typed
    * columns cannot be hashed and go through to_json first. */
  def fingerprint(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val r = named.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
  }
}

object Host {
  def loadavg(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).trim
    catch { case NonFatal(_) => "" }

  /** VmHWM of this process, in MB (1e6 bytes). */
  def peakRssMb(): Double =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toLong * 1024 / 1e6
    } catch { case NonFatal(_) => -1.0 }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
