package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program, at the calls the benchmark
  * makes into each layer. A span has a name (the layer), a start, an end,
  * a parent and the id of the operation (query, pass or request) it
  * belongs to. Spans stay in memory until [[report]] runs at the end.
  *
  * Spark work is attributed to spans through a job-group-style local
  * property: every job inherits the id of the span that was open on the
  * submitting thread when it started. Catalyst phase times come from a
  * `QueryExecutionListener` and are attributed by wall-clock time to the
  * phase (cold, steady-N, serve) they ran in; codegen compile time and
  * count are deltas of Spark's global codegen counters around each span.
  *
  * With tracing off no listener is registered and [[span]] only runs its
  * body. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Long, val name: String, val op: String,
      val parent: Long, val phase: String, val startNs: Long,
      val codegenNs0: Long, val compiles0: Long) {
    @volatile var endNs: Long = 0L
    @volatile var codegenNs: Long = 0L
    @volatile var compiles: Long = 0L
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  @volatile private var sc: SparkContext = _
  @volatile var phase: String = "setup"
  private val phaseWindows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var phaseStartMs = 0L

  val jobs = new JobListener
  val plans = new PlanListener

  /** Register the listeners on a session's context; spans opened from
    * now on tag the jobs they start. */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Mark the start of a phase; phase windows attribute listener
    * callbacks that carry only a wall-clock time. */
  def beginPhase(name: String): Unit = synchronized {
    endPhase()
    phase = name
    phaseStartMs = if (enabled) System.currentTimeMillis() else 0L
  }

  def endPhase(): Unit = synchronized {
    if (phaseStartMs > 0)
      phaseWindows += ((phase, phaseStartMs, System.currentTimeMillis()))
    phaseStartMs = 0L
  }

  def span[T](name: String, op: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val parent = outer.headOption
      val s = new Span(nextId.getAndIncrement(), name,
        Option(op).orElse(parent.map(_.op)).getOrElse(""),
        parent.fold(0L)(_.id), phase, System.nanoTime(),
        CodeGenerator.compileTime, compileCount)
      stack.set(s :: outer)
      val ctx = sc
      val prev = if (ctx == null) null else ctx.getLocalProperty(SpanProp)
      if (ctx != null) ctx.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.codegenNs = CodeGenerator.compileTime - s.codegenNs0
        s.compiles = compileCount - s.compiles0
        spans.add(s)
        stack.set(outer)
        if (ctx != null) ctx.setLocalProperty(SpanProp, prev)
      }
    }

  /** Per-phase layer table: for every span name, its count, total and
    * self time, the Spark jobs started inside it and their task metrics;
    * plus the phase's Catalyst phase times and codegen totals. */
  def report(): Map[String, Any] = {
    endPhase()
    jobs.awaitDrained()
    plans.awaitDrained()
    val all = spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    def selfNs(s: Span): Long =
      (s.endNs - s.startNs) - children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
    val jobRecs = jobs.records
    val phases = all.map(_.phase).distinct
    phases.map { ph =>
      val inPhase = all.filter(_.phase == ph)
      val roots = inPhase.filter(s => !byId.contains(s.parent))
      val rootNs = roots.map(s => s.endNs - s.startNs).sum
      val childNs = roots.flatMap(r => children.getOrElse(r.id, Nil)).map(c => c.endNs - c.startNs).sum
      val window = phaseWindows.find(_._1 == ph)
      // jobs from threads without an open span (the dashboard server's)
      // belong to the phase they started in, as the `untagged` layer
      val phaseJobs = jobRecs.filter { j =>
        if (j.span != 0) byId.get(j.span).exists(_.phase == ph)
        else window.exists { case (_, a, b) => j.startMs >= a && j.startMs <= b }
      }
      val layers = inPhase.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
        val ids = ss.map(_.id).toSet
        val js = phaseJobs.filter(j => ids.contains(j.span))
        name -> (Map[String, Any](
          "spans" -> ss.size,
          "total_s" -> ss.map(s => s.endNs - s.startNs).sum / 1e9,
          "self_s" -> ss.map(selfNs).sum / 1e9,
          "codegen_s" -> ss.map(_.codegenNs).sum / 1e9) ++
          jobTotals(js))
      }.toMap + ("untagged" -> jobTotals(phaseJobs.filter(_.span == 0)))
      val planTotals = window.fold(Map.empty[String, Double]) { case (_, a, b) =>
        plans.totalsBetween(a, b)
      }
      val callSites = phaseJobs.groupBy(_.file).toSeq.map { case (f, js) =>
        f -> Map[String, Any]("jobs" -> js.size, "job_s" -> js.map(_.wallMs).sum / 1e3)
      }.toMap
      ph -> Map[String, Any](
        "wall_s" -> rootNs / 1e9,
        "uncovered_s" -> (rootNs - childNs) / 1e9,
        "codegen_s" -> roots.map(_.codegenNs).sum / 1e9,
        "codegen_compiles" -> roots.map(_.compiles).sum,
        "plans" -> planTotals,
        "spark" -> jobTotals(phaseJobs),
        "layers" -> layers,
        "ops" -> inPhase.groupBy(_.op).map { case (op, ss) =>
          op -> ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(selfNs).sum / 1e9 }
        },
        "callsites" -> callSites)
    }.toMap
  }

  private def jobTotals(js: Seq[JobRec]): Map[String, Any] = Map(
    "jobs" -> js.size,
    "job_s" -> js.map(_.wallMs).sum / 1e3,
    "stages" -> js.map(_.stages.get).sum,
    "tasks" -> js.map(_.tasks.get).sum,
    "task_run_s" -> js.map(_.runMs.get).sum / 1e3,
    "task_cpu_s" -> js.map(_.cpuNs.get).sum / 1e9,
    "gc_s" -> js.map(_.gcMs.get).sum / 1e3,
    "shuffle_read_mb" -> js.map(_.shuffleRead.get).sum / MB,
    "shuffle_write_mb" -> js.map(_.shuffleWrite.get).sum / MB,
    "spill_mb" -> js.map(_.spill.get).sum / MB,
    "input_mb" -> js.map(_.input.get).sum / MB)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val MB = 1024.0 * 1024.0

  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final class JobRec(val jobId: Int, val span: Long, val callSite: String,
      val startMs: Long) {
    @volatile var endMs: Long = -1L
    val stages, tasks = new AtomicInteger()
    val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = new AtomicLong()
    def wallMs: Long = if (endMs < 0) 0L else endMs - startMs
    /** Source file of the job's user call site, e.g. `Graphs.scala`. */
    def file: String = {
      val at = callSite.lastIndexOf(" at ")
      val loc = if (at < 0) callSite else callSite.substring(at + 4)
      loc.takeWhile(_ != ':')
    }
  }

  /** Counts Spark work per job and remembers the span each job started
    * in (0 when the submitting thread had none open, as on the dashboard
    * server's own threads). */
  final class JobListener extends SparkListener {
    private val byJob = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, JobRec]()
    private val started, ended = new AtomicInteger()
    private val sqlSite = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSite.put(s.executionId, s.description)
      case _ =>
    }

    def records: Seq[JobRec] = byJob.values.asScala.toSeq.sortBy(_.jobId)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      // a SQL job's call site is its SQL execution's, taken on the calling
      // thread (adaptive execution submits stages from its own threads);
      // other jobs name their result stage after it
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSite.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
      val rec = new JobRec(e.jobId, span.fold(0L)(_.toLong), site, e.time)
      byJob.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
      started.incrementAndGet()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        rec.tasks.incrementAndGet()
        rec.runMs.addAndGet(m.executorRunTime)
        rec.cpuNs.addAndGet(m.executorCpuTime)
        rec.gcMs.addAndGet(m.jvmGCTime)
        rec.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        rec.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        rec.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        rec.input.addAndGet(m.inputMetrics.bytesRead)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.get(e.jobId)).foreach { rec =>
        rec.endMs = e.time
        ended.incrementAndGet()
      }

    /** The listener bus delivers task and stage events before the job end
      * event, so once every tagged job has ended all counts are in. */
    def awaitDrained(): Unit = {
      val deadline = System.currentTimeMillis() + 20000
      while (ended.get < started.get && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    }
  }

  /** Catalyst phase times (analysis, optimization, planning) of every
    * executed query, keyed by when the phase started. */
  final class PlanListener extends QueryExecutionListener {
    private val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
    private val seen = new AtomicLong()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs, p.durationMs))
      }
      seen.incrementAndGet()
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      seen.incrementAndGet()

    /** Callbacks arrive on the listener bus; wait until they stop coming. */
    def awaitDrained(): Unit = {
      var last = -1L
      while (last != seen.get) { last = seen.get; Thread.sleep(200) }
    }

    def totalsBetween(fromMs: Long, toMs: Long): Map[String, Double] =
      phases.asScala.toSeq.filter { case (_, t, _) => t >= fromMs && t <= toMs }
        .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._3).sum / 1e3 }
  }
}
