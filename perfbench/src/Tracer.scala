package org.apache.spark.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import PerfBench._

/** A span on the `System.nanoTime` clock. `op` is `pass/operation` where
  * the source knows it (the benchmark's own spans, and jobs through a
  * local property); Catalyst phases are placed by time.
  */
final case class Span(layer: String, name: String, startNs: Long, endNs: Long, op: String)

/** Per-layer listeners of a traced pass: jobs, stages and tasks from a
  * `SparkListener`, Catalyst phases from a `QueryExecutionListener`
  * (`tracker.phases`), codegen compiles from `CodegenMetrics` and their
  * time from `CodeGenerator`'s log line. Every listener ignores events
  * while tracing is off, so untraced passes in the same JVM measure as an
  * untraced run does.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Counters {
    @volatile var jobs, eagerJobs, stages, tasks, queryExecutions = 0L
    @volatile var analysisMs, optimizationMs, planningMs = 0L
    @volatile var compiles = 0L
    @volatile var compileMs = 0.0
    val spans = new ConcurrentLinkedQueue[Span]()
    /** (planning start ns, files scanned) per executed query. */
    val scans = new ConcurrentLinkedQueue[(Long, Long)]()
  }

  @volatile private var cur: Counters = null
  private var compilesAtStart = 0L
  val passes: java.util.List[Counters] = new java.util.ArrayList[Counters]()

  // Spark stamps events with System.currentTimeMillis.
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + offsetNs
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Option(cur).foreach { c =>
      val props = Option(j.properties)
      val phase = props.map(_.getProperty(PhaseKey)).orNull
      c.jobs += 1
      if (phase == "build") c.eagerJobs += 1
      jobStarts.put(j.jobId, Span("job", s"job ${j.jobId} ($phase)", msToNs(j.time), 0L,
        props.map(_.getProperty(OpKey)).orNull))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(j.jobId)
      if (s != null) Option(cur).foreach(_.spans.add(s.copy(endNs = msToNs(j.time))))
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      Option(cur).foreach(_.stages += 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(cur).foreach(_.tasks += 1)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Option(cur).foreach { c =>
      c.queryExecutions += 1
      val phases = qe.tracker.phases
      phases.foreach { case (phase, s) =>
        phase match {
          case "analysis" => c.analysisMs += s.durationMs
          case "optimization" => c.optimizationMs += s.durationMs
          case "planning" => c.planningMs += s.durationMs
          case _ =>
        }
        c.spans.add(Span("catalyst", phase, msToNs(s.startTimeMs), msToNs(s.endTimeMs), null))
      }
      phases.get("planning").foreach(p => c.scans.add(msToNs(p.startTimeMs) -> ScanFiles.count(qe)))
    }
  }

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val generatedIn = "Code generated in ([0-9.]+) ms".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = Option(cur).foreach { c =>
      e.getMessage.getFormattedMessage match {
        case generatedIn(ms) => c.synchronized(c.compileMs += ms.toDouble)
        case _ =>
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  locally {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Starts (true) or ends (false) a traced pass. */
  def enable(on: Boolean): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    if (on) {
      compilesAtStart = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      cur = new Counters
    } else if (cur != null) {
      cur.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtStart
      passes.add(cur)
      cur = null
    }
  }

  /** Spans as JSON lines, the benchmark's own (pass, op, build, exec) with
    * the listeners' (catalyst phases, jobs).
    */
  def writeSpans(path: Path, traced: Seq[PassResult]): Unit = {
    val own = traced.flatMap(Tracer.ownSpans)
    val all = own ++ passes.asScala.flatMap(_.spans.asScala)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"op":${Option(s.op).map("\"" + _ + "\"").getOrElse("null")}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  def ownSpans(p: PassResult): Seq[Span] = p.spans.flatMap { s =>
    val op = s"${p.index}/${s.op.name}"
    Seq(Span("op", s.op.name, s.buildStartNs, s.execEndNs, op),
      Span("build", s.op.name, s.buildStartNs, s.buildEndNs, op),
      Span("exec", s.op.name, s.buildEndNs, s.execEndNs, op))
  }

  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    var start = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (start == Long.MinValue || s > end) {
        if (start != Long.MinValue) total += end - start
        start = s; end = e
      } else end = math.max(end, e)
    }
    if (start != Long.MinValue) total += end - start
    total
  }

  /** Length of `outer` not covered by `inner`, both unions of intervals. */
  def uncovered(outer: Seq[(Long, Long)], inner: Seq[(Long, Long)]): Long = {
    val clipped = for {
      (s, e) <- outer; (a, b) <- inner
      lo = math.max(s, a); hi = math.min(e, b) if hi > lo
    } yield (lo, hi)
    covered(outer) - covered(clipped)
  }

  /** Self time of each layer in one pass, in seconds: a layer's spans
    * minus what its children cover (catalyst phases and jobs are the
    * leaves; build and exec are the operation's two children).
    */
  def selfTimes(p: PassResult, c: Tracer#Counters): Map[String, Double] = {
    val own = ownSpans(p)
    def iv(layer: String, in: Seq[Span]) = in.filter(_.layer == layer).map(s => s.startNs -> s.endNs)
    val listened = c.spans.asScala.toSeq
    val cat = iv("catalyst", listened)
    val jobs = iv("job", listened)
    val leaves = cat ++ jobs
    Map(
      "self.build_s" -> uncovered(iv("build", own), leaves) / 1e9,
      "self.exec_s" -> uncovered(iv("exec", own), leaves) / 1e9,
      "self.catalyst_s" -> covered(cat) / 1e9,
      "self.jobs_s" -> uncovered(jobs, cat) / 1e9)
  }
}

/** Files scanned by the file-source scans of an executed plan, from the
  * scans' `numFiles` metric (adaptive plans included).
  */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def count(qe: QueryExecution): Long =
    collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
}
