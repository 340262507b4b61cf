package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Per-layer tracing from outside the program: Spark's own listener
  * events (jobs, stages, tasks, SQL executions with their planning phases,
  * streaming progress) and codegen counters, grouped into one record per
  * query.
  * Spans live in memory and are written out once, at the end of the run.
  *
  * Timestamps are epoch milliseconds; harness clocks (nanoTime) are
  * converted with one offset taken at start. */
final class Tracer(spark: SparkSession, dataDir: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private var attached = false
  private var offsetMs = 0.0
  private def epochMs(nanos: Long): Double = nanos / 1e6 + offsetMs

  // raw events since the last endQuery, appended from the listener bus
  private val jobs = ArrayBuffer.empty[Job]
  private val jobStarts = mutable.Map.empty[Int, Job]
  private val execs = mutable.Map.empty[Long, Exec]
  private val actions = ArrayBuffer.empty[Action]
  private val batches = ArrayBuffer.empty[Batch]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val t = new Counters
  private var straggler = 0L
  private var stages = 0L
  private var codegen = (0L, 0.0)

  private val queries = ArrayBuffer.empty[QueryTrace]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized0 {
      val props = Option(e.properties)
      val j = Job(e.jobId, props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.time, -1L)
      jobStarts(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized0 {
      jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized0 {
      t.tasks += 1
      if (e.reason != org.apache.spark.Success) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputRows += m.inputMetrics.recordsRead
        t.outputBytes += m.outputMetrics.bytesWritten
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized0 {
      stages += 1
      stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
        val sorted = ts.sorted
        straggler += sorted.last - sorted(sorted.length / 2)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized0 {
        execs(s.executionId) = Exec(s.executionId, s.time, -1L)
      }
      case s: SparkListenerSQLExecutionEnd =>
        val action = actionOf(s)
        synchronized0 {
          execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(endMs = s.time))
          actions ++= action
        }
      case _ =>
    }
  }

  /** Planning of one action, as Spark's QueryExecutionListener sees it. */
  private def actionOf(e: SparkListenerSQLExecutionEnd): Option[Action] =
    org.apache.spark.sql.perfbench.Bridge.queryExecution(e).map { qe =>
        val phases = qe.tracker.phases
        def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
        val graftNs = qe.tracker.rules.collect {
          case (rule, r) if rule.startsWith("graft.") => r.totalTimeNs
        }.sum
        val tables = qe.analyzed.collect { case l: LogicalRelation => l.relation }
          .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }
          .flatten.flatMap(tableOf).toSet
        Action(e.executionId, phase("analysis"), phase("optimization"), phase("planning"),
          graftNs, tables)
      }

  private object streamingListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      synchronized0 {
        batches += Batch(p.batchId, start, d("triggerExecution"),
          p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
  }

  private def synchronized0[A](f: => A): A = this.synchronized(f)

  /** The table name for a path directly inside the data directory. */
  private val dataPrefix = new java.io.File(dataDir).getAbsoluteFile.toURI.getPath.stripSuffix("/") + "/"
  private def tableOf(path: String): Option[String] = {
    val p = new java.net.URI(path).getPath
    if (p != null && p.startsWith(dataPrefix) && !p.stripPrefix(dataPrefix).contains('/'))
      Some(p.stripPrefix(dataPrefix).stripSuffix(".parquet"))
    else None
  }

  /** Compiles so far and their summed milliseconds. The histogram keeps
    * every value until it holds 1028; past that, mean times count. */
  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n)
  }

  def start(): Unit = offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    attached = true
    codegen = codegenNow()
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.sql.perfbench.Bridge.waitUntilListenerBusEmpty(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamingListener)
    attached = false
    synchronized0 { reset() }
  }

  private def reset(): Unit = {
    jobs.clear(); execs.clear(); actions.clear(); batches.clear()
    stageTaskMs.clear(); t.clear(); straggler = 0L; stages = 0L
  }

  /** Close one query: drain the listener bus and take every event since
    * the previous query as this query's. Runs outside the timed window. */
  def endQuery(s: Main.Sample): Unit = {
    org.apache.spark.sql.perfbench.Bridge.waitUntilListenerBusEmpty(sc)
    val cg = codegenNow()
    synchronized0 {
      queries += QueryTrace(s.query, epochMs(s.startNs), epochMs(s.buildEndNs), epochMs(s.endNs),
        jobs.toSeq, execs.values.toSeq, actions.toSeq, batches.toSeq,
        t.copy(), straggler, stages, cg._1 - codegen._1, cg._2 - codegen._2)
      codegen = cg
      reset()
    }
  }

  /** Drop every event since the last query (the untimed output check). */
  def discard(): Unit = {
    org.apache.spark.sql.perfbench.Bridge.waitUntilListenerBusEmpty(sc)
    val cg = codegenNow()
    synchronized0 { codegen = cg; reset() }
  }

  def endPass(): PassTrace = {
    val qs = queries.toSeq
    queries.clear()
    PassTrace(qs)
  }

  /** All spans of every traced pass, one JSON object per line. */
  def writeSpans(path: String, passes: Seq[Main.Pass]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      var nextId = 0L
      var tracedPass = 0
      passes.foreach { p =>
        p.trace.foreach { pt =>
          tracedPass += 1
          pt.queries.foreach { q =>
            spansOf(q, s"${p.kind}$tracedPass", () => { nextId += 1; nextId })
              .foreach(s => out.println(s.json))
          }
        }
      }
    } finally out.close()
  }
}

object Tracer {
  final case class Job(id: Int, group: String, execId: Option[Long], startMs: Long, endMs: Long)
  final case class Exec(id: Long, startMs: Long, endMs: Long)
  /** One action's planning, keyed by the SQL execution that ran it. */
  final case class Action(execId: Long, analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, graftRulesNs: Long, tables: Set[String])
  final case class Batch(id: Long, startMs: Long, durMs: Long, commitMs: Long)

  final case class Counters(var tasks: Long = 0, var failedTasks: Long = 0, var runMs: Long = 0,
                            var cpuNs: Long = 0, var gcMs: Long = 0, var inputRows: Long = 0,
                            var outputBytes: Long = 0, var shuffleWriteBytes: Long = 0,
                            var spillBytes: Long = 0) {
    def clear(): Unit = {
      tasks = 0; failedTasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; inputRows = 0
      outputBytes = 0; shuffleWriteBytes = 0; spillBytes = 0
    }
  }

  final case class QueryTrace(query: String, startMs: Double, buildEndMs: Double, endMs: Double,
                              jobs: Seq[Job], execs: Seq[Exec], actions: Seq[Action],
                              batches: Seq[Batch], c: Counters, stragglerMs: Long,
                              stages: Long, codegenCompiles: Long, codegenMs: Double) {
    // listener times have millisecond resolution: allow 1 ms either side
    private def in(ms: Long, from: Double, to: Double) = ms >= from - 1 && ms <= to + 1
    def buildJobs: Seq[Job] = jobs.filter(j => in(j.startMs, startMs, buildEndMs))
    def execJobs: Seq[Job] = jobs.filter(j => !in(j.startMs, startMs, buildEndMs) &&
      in(j.startMs, buildEndMs, endMs))
    /** Jobs this query caused: its job group, or started inside its span. */
    def allJobs: Seq[Job] = jobs.filter(j => j.group == query || in(j.startMs, startMs, endMs))
  }

  final case class PassTrace(queries: Seq[QueryTrace]) {
    def json: String = {
      val qs = queries
      def s(f: QueryTrace => Double): Double = qs.map(f).sum
      val tables = qs.flatMap(_.actions.flatMap(_.tables)).distinct.sorted
      val fields = Seq(
        "build_s" -> s(q => (q.buildEndMs - q.startMs) / 1e3),
        "exec_s" -> s(q => (q.endMs - q.buildEndMs) / 1e3),
        "query_s" -> s(q => (q.endMs - q.startMs) / 1e3),
        "build_jobs" -> s(_.buildJobs.size.toDouble),
        "exec_jobs" -> s(_.execJobs.size.toDouble),
        "jobs" -> s(_.allJobs.size.toDouble),
        "actions" -> s(_.actions.size.toDouble),
        "analysis_ms" -> s(_.actions.map(_.analysisMs).sum.toDouble),
        "optimization_ms" -> s(_.actions.map(_.optimizationMs).sum.toDouble),
        "planning_ms" -> s(_.actions.map(_.planningMs).sum.toDouble),
        "graft_rules_ms" -> s(_.actions.map(_.graftRulesNs).sum / 1e6),
        "codegen_compiles" -> s(_.codegenCompiles.toDouble),
        "codegen_compile_ms" -> s(_.codegenMs),
        "stages" -> s(_.stages.toDouble),
        "tasks" -> s(_.c.tasks.toDouble),
        "task_run_ms" -> s(_.c.runMs.toDouble),
        "task_cpu_ms" -> s(_.c.cpuNs / 1e6),
        "straggler_ms" -> s(_.stragglerMs.toDouble),
        "gc_ms" -> s(_.c.gcMs.toDouble),
        "input_rows" -> s(_.c.inputRows.toDouble),
        "output_mb" -> s(_.c.outputBytes / 1e6),
        "shuffle_write_mb" -> s(_.c.shuffleWriteBytes / 1e6),
        "spill_mb" -> s(_.c.spillBytes / 1e6),
        "stream_batches" -> s(_.batches.size.toDouble),
        "stream_batch_ms" -> s(_.batches.map(_.durMs).sum.toDouble),
        "state_commit_ms" -> s(_.batches.map(_.commitMs).sum.toDouble),
        "failed_tasks" -> s(_.c.failedTasks.toDouble))
      val perQuery = qs.map { q =>
        s"""{"q":${Json.str(q.query)},"build_jobs":${q.buildJobs.size},""" +
          s""""exec_jobs":${q.execJobs.size},"jobs":${q.allJobs.size},""" +
          s""""span_s":${(q.endMs - q.startMs) / 1e3}}"""
      }.mkString("[", ",", "]")
      fields.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "") +
        s""","tables":${tables.map(Json.str).mkString("[", ",", "]")},"per_query":$perQuery}"""
    }
  }

  final case class Span(id: Long, parent: Long, kind: String, name: String,
                        startMs: Double, endMs: Double, selfMs: Double, pass: String,
                        planning: Option[Action]) {
    def json: String =
      s"""{"id":$id,"parent":$parent,"pass":"$pass","kind":"$kind","name":${Json.str(name)},""" +
        s""""start_ms":$startMs,"end_ms":$endMs,"dur_ms":${endMs - startMs},"self_ms":$selfMs""" +
        planning.map(a => s""","analysis_ms":${a.analysisMs},"optimization_ms":${a.optimizationMs},""" +
          s""""planning_ms":${a.planningMs},"graft_rules_ms":${a.graftRulesNs / 1e6}""").getOrElse("") +
        "}"
  }

  /** The span tree of one query: query > build|exec > stream batch >
    * action (SQL execution) > job. A job hangs under its SQL execution
    * when it has one, otherwise under the innermost span that contains
    * its start. Self time is a span's duration minus the union of its
    * children's intervals. */
  private def spansOf(q: QueryTrace, pass: String, nextId: () => Long): Seq[Span] = {
    case class Node(kind: String, name: String, start: Double, end: Double, rank: Int,
                    execId: Option[Long] = None) { val id: Long = nextId() }
    val query = Node("query", q.query, q.startMs, q.endMs, 0)
    val build = Node("build", q.query, q.startMs, q.buildEndMs, 1)
    val exec = Node("exec", q.query, q.buildEndMs, q.endMs, 1)
    val batches = q.batches.map(b => Node("stream_batch", s"batch ${b.id}",
      b.startMs.toDouble, (b.startMs + b.durMs).toDouble, 2))
    val actions = q.execs.filter(_.endMs >= 0).map(x => Node("action", s"execution ${x.id}",
      x.startMs.toDouble, x.endMs.toDouble, 3, Some(x.id)))
    val jobs = q.allJobs.map(j => Node("job", s"job ${j.id}", j.startMs.toDouble,
      (if (j.endMs >= 0) j.endMs else j.startMs).toDouble, 4, j.execId))
    val containers = Seq(query, build, exec) ++ batches ++ actions
    def parentOf(n: Node): Node =
      if (n eq query) n
      else n.execId.filter(_ => n.kind == "job")
        .flatMap(id => actions.find(_.execId.contains(id)))
        .getOrElse {
          containers.filter(c => c.rank < n.rank && c.start <= n.start + 1 && n.start <= c.end + 1)
            .maxBy(_.rank)
        }
    val nodes = Seq(query, build, exec) ++ batches ++ actions ++ jobs
    val parents = nodes.map(n => n -> parentOf(n)).toMap
    nodes.map { n =>
      val kids = nodes.filter(k => (k ne n) && (parents(k) eq n))
        .map(k => (math.max(k.start, n.start), math.min(k.end, n.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var until = Double.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, until)
        if (b > from) { covered += b - from; until = b }
      }
      val planning = if (n.kind == "action") q.actions.find(a => n.execId.contains(a.execId)) else None
      Span(n.id, if (n eq query) 0L else parents(n).id, n.kind, n.name, n.start, n.end,
        (n.end - n.start) - covered, pass, planning)
    }
  }
}
