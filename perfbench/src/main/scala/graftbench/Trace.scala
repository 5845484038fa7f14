package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for the traced run. It sees graft only through
  * Spark's public listeners and the benchmark's own timers:
  *
  *  - a `QueryExecutionListener` hands over each *executed*
  *    `QueryExecution`: its tracker phases and its scan nodes' file
  *    counts;
  *  - a `SparkListener` reports jobs, stages and task metrics, tied to
  *    the op that ran them through a local property on the client
  *    thread;
  *  - a log4j appender on Spark's codegen loggers counts whole-stage
  *    codegen compile failures.
  *
  * Events are buffered in memory while an op runs and turned into
  * spans and per-op figures only after the listener bus has drained. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spanIds = new AtomicLong(0)
  private def nextId(): Long = spanIds.incrementAndGet()

  // ---- raw events, appended from the listener bus thread -----------
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val seenQe = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  private val codegen = new ConcurrentLinkedQueue[(Long, String)]()

  // ---- benchmark-side records, client thread only -------------------
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val lakeSpans = mutable.ArrayBuffer.empty[Stats.Span]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      noteQe(qe, executed = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      noteQe(qe, executed = true)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(OpProperty))).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, op, e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.put(i.stageId, StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val agg = taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg)
        agg.synchronized {
          agg.tasks += 1
          agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
          agg.gcMs += m.jvmGCTime
          agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        }
      }
    }
  }

  private val appender = new AbstractAppender("graftbench-codegen", null,
      null, true, Property.EMPTY_ARRAY) {
    override def append(ev: LogEvent): Unit = {
      val msg = Option(ev.getMessage).map(_.getFormattedMessage).getOrElse("")
      val lower = msg.toLowerCase
      if (lower.contains("codegen disabled") ||
          lower.contains("failed to compile"))
        codegen.add((ev.getTimeMillis, msg.linesIterator.take(3).mkString(" | ")))
    }
  }
  appender.start()

  private def codegenLoggers: Seq[CoreLogger] = CodegenLoggers.map(n =>
    org.apache.logging.log4j.LogManager.getLogger(n).asInstanceOf[CoreLogger])

  /** Start listening. Listeners are attached only while a traced pass
    * runs, so untraced passes pay nothing for them. */
  def attach(sessions: Seq[SparkSession]): Unit = {
    sessions.foreach(_.listenerManager.register(qeListener))
    sc.addSparkListener(sparkListener)
    codegenLoggers.foreach(_.addAppender(appender))
  }

  def detach(sessions: Seq[SparkSession]): Unit = {
    drain()
    sessions.foreach(_.listenerManager.unregister(qeListener))
    sc.removeSparkListener(sparkListener)
    codegenLoggers.foreach(_.removeAppender(appender))
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Record a `QueryExecution` the benchmark holds itself, e.g. the
    * frame `spark.sql` returned: its parse and analysis phases are not
    * reported to listeners. */
  def noteQe(qe: QueryExecution, executed: Boolean = false): Unit =
    if (seenQe.add(qe.id)) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs)
      }
      val scans =
        if (!executed) Nil
        else scala.util.Try(scanNodes(qe.executedPlan)).getOrElse(Nil)
      qes.add(QeRec(qe.id, phases, scans))
    }

  /** Open an op: jobs submitted from this thread until [[endOp]] are
    * charged to it. */
  def beginOp(kind: String, govRefs: Int): OpRec = {
    val rec = OpRec(nextId(), kind, govRefs)
    rec.auditBefore = graft.fgac.AuditLog.entries.size
    sc.setLocalProperty(OpProperty, rec.id.toString)
    rec.startMs = System.currentTimeMillis()
    rec
  }

  def endOp(rec: OpRec, wallMs: Double): Unit = {
    rec.endMs = System.currentTimeMillis()
    rec.wallMs = wallMs
    sc.setLocalProperty(OpProperty, null)
    rec.auditDelta = graft.fgac.AuditLog.entries.size - rec.auditBefore
    ops += rec
  }

  /** Time a lake call the benchmark makes itself, as a span under
    * `parent` (an op id, or 0 for a per-epoch probe). */
  def lakeCall[A](name: String, parent: Long = 0L)(body: => A): (A, Double) = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1e6
    lakeSpans += Stats.Span(nextId(), name, s.toDouble, s + ms, parent, parent)
    (out, ms)
  }

  // ---- analysis, after drain() --------------------------------------

  /** Per-op figures plus the span tree, for every op recorded. */
  def report(lakeRoots: Map[String, Long]): TraceReport = {
    drain()
    val qeList = qes.asScala.toSeq
    val jobList = jobs.values.asScala.toSeq
    val byOp = jobList.groupBy(_.op)
    val jobStages = stageJob.asScala.toSeq.groupMap(_._2)(_._1)
    val spans = mutable.ArrayBuffer.empty[Stats.Span]
    val figures = ops.toSeq.map { op =>
      val opEnd = op.startMs + op.wallMs
      spans += Stats.Span(op.id, "op", op.startMs.toDouble, opEnd, 0L, op.id)
      val inOp = (t: Long) => t >= op.startMs && t <= op.endMs
      val myQes = qeList.filter(q => q.phases.values.exists(p => inOp(p._1)))
      var phaseMs = Map.empty[String, Double].withDefaultValue(0.0)
      myQes.foreach(q => q.phases.foreach { case (name, (s, e)) =>
        phaseMs += name -> (phaseMs(name) + (e - s))
        spans += Stats.Span(nextId(), PhaseSpan.getOrElse(name, name),
          s.toDouble, e.toDouble, op.id, op.id)
      })
      val myJobs = byOp.getOrElse(op.id, Nil)
      // a job still running when the op returned ends with the op
      def jobEnd(j: JobRec) = (if (j.end > 0) j.end else op.endMs).toDouble
      myJobs.foreach { j =>
        val jid = nextId()
        spans += Stats.Span(jid, "job", j.start.toDouble, jobEnd(j), op.id, op.id)
        jobStages.getOrElse(j.jobId, Nil).flatMap(st => Option(stages.get(st))).foreach { st =>
          spans += Stats.Span(nextId(), "stage", st.start.toDouble, st.end.toDouble, jid, op.id)
        }
      }
      val myStages = myJobs.flatMap(j => jobStages.getOrElse(j.jobId, Nil)).distinct
      val agg = myStages.flatMap(s => Option(taskAgg.get(s)))
      val scans = myQes.flatMap(_.scans)
      // driver time: the part of the op no job of it covers
      val driver =
        Stats.uncovered(op.startMs.toDouble, opEnd, myJobs.map(j => (j.start.toDouble, jobEnd(j))))
      OpFigures(op.id, op.kind, op.wallMs,
        parseMs = phaseMs("parsing"), analysisMs = phaseMs("analysis"),
        optimizeMs = phaseMs("optimization"), planMs = phaseMs("planning"),
        jobs = myJobs.size,
        stages = myStages.count(s => stages.containsKey(s)),
        tasks = agg.map(_.tasks).sum,
        taskMs = agg.map(_.runMs).sum.toDouble,
        taskCpuMs = agg.map(_.cpuNs).sum / 1e6,
        gcMs = agg.map(_.gcMs).sum.toDouble,
        shuffleWrite = agg.map(_.shuffleWrite).sum,
        shuffleRead = agg.map(_.shuffleRead).sum,
        jobUnionMs = op.wallMs - driver,
        driverMs = driver,
        codegenFallbacks = codegen.asScala.count(c => inOp(c._1)),
        auditDelta = op.auditDelta, govRefs = op.govRefs,
        scans = scans.size, filesRead = scans.map(_.files).sum,
        liveFilesOfScanned = scans.flatMap(s =>
          lakeRoots.collectFirst {
            case (root, live) if s.roots.exists(_.startsWith(root)) => live
          }).sum)
    }
    spans ++= lakeSpans
    TraceReport(figures, spans.toSeq,
      codegen.asScala.map(_._2).toSeq.distinct.take(8))
  }
}

object Tracer {
  val OpProperty = "graftbench.op"

  /** Spark's loggers for whole-stage codegen compile failures. */
  val CodegenLoggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")

  private val PhaseSpan = Map("parsing" -> "parse", "analysis" -> "analysis",
    "optimization" -> "optimize", "planning" -> "plan")

  final case class Scan(files: Long, roots: Seq[String])
  final case class QeRec(id: Long, phases: Map[String, (Long, Long)],
      scans: Seq[Scan])
  final case class JobRec(jobId: Int, op: Long, start: Long, end: Long)
  final case class StageRec(stageId: Int, start: Long, end: Long)
  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
  }

  final case class OpRec(id: Long, kind: String, govRefs: Int) {
    var startMs = 0L; var endMs = 0L; var wallMs = 0.0
    var auditBefore = 0; var auditDelta = 0
  }

  final case class OpFigures(id: Long, kind: String, wallMs: Double,
      parseMs: Double, analysisMs: Double, optimizeMs: Double,
      planMs: Double, jobs: Int, stages: Int, tasks: Long, taskMs: Double,
      taskCpuMs: Double, gcMs: Double, shuffleWrite: Long,
      shuffleRead: Long, jobUnionMs: Double, driverMs: Double,
      codegenFallbacks: Int, auditDelta: Int, govRefs: Int, scans: Int,
      filesRead: Long, liveFilesOfScanned: Long)

  final case class TraceReport(ops: Seq[OpFigures], spans: Seq[Stats.Span],
      codegenMessages: Seq[String])

  /** Every plan node under `root`, through adaptive wrappers, query
    * stages and subqueries. */
  def planNodes(root: SparkPlan): Seq[SparkPlan] = root match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  def scanNodes(root: SparkPlan): Seq[Scan] = planNodes(root).collect {
    case f: FileSourceScanExec =>
      Scan(f.metrics.get("numFiles").map(_.value).getOrElse(0L),
        f.relation.location.rootPaths.map(_.toUri.getPath))
  }
}
