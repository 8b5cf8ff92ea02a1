package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import PerfBench._

/** Reduces passes to the reported metrics: the median over passes of each
  * per-pass value.
  */
object Metrics {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def med(ps: Seq[PassResult])(f: PassResult => Double): Double = median(ps.map(f))
  private val MB = 1024.0 * 1024.0

  /** Seen by a user: time and cost of a warm pass. */
  def endToEnd(timed: Seq[PassResult]): Seq[(String, Double)] = Seq(
    "pass_s" -> med(timed)(_.wallS),
    "exec_cpu_s" -> med(timed)(_.task.cpuNs / 1e9),
    "driver_cpu_s" -> med(timed)(_.driverCpuS),
    "peak_exec_mem_mb" -> med(timed)(_.task.peakMem / MB))

  /** Rows a call moved, as its tasks counted them: records read by a
    * read, records written by a write.
    */
  private def rows(s: OpSpan): Long =
    if (s.op.kind == Write) s.task.recordsWritten else s.task.recordsRead

  /** Share of the pass spent in one I/O or catalog call, in percent, and
    * the rows it moved (reads and writes only); absent calls read 0.
    */
  private def calls(timed: Seq[PassResult]): Seq[(String, Double)] =
    HiveIo.calls.flatMap { case (name, kind) =>
      val metric = if (name.startsWith("catalog.")) name else s"io.$name"
      def of(p: PassResult) = p.spans.filter(_.op.name == name)
      Seq(s"${metric}_pct" -> med(timed)(p => 100 * of(p).map(_.callS).sum / p.wallS)) ++
        (if (kind == Ddl) Nil
         else Seq(s"${metric}_rows" -> med(timed)(p => of(p).map(rows(_).toDouble).sum)))
    }

  private def rate(timed: Seq[PassResult], kind: Kind): Double = med(timed) { p =>
    val s = p.spans.filter(_.op.kind == kind)
    val t = s.map(_.callS).sum
    if (t > 0) s.map(rows).sum / t else 0.0
  }

  /** Per layer, from the traced passes (untraced ones for the I/O call
    * timings, which need no listener).
    */
  def perLayer(traced: Seq[PassResult], timed: Seq[PassResult], t: Tracer,
               footprint: Seq[(String, Double)]): Seq[(String, Double)] = {
    val cs = t.passes.asScala.toSeq
    val pairs = traced.zip(cs)
    def c(f: Tracer#Counters => Double): Double = median(cs.map(f))
    def tp(f: PassResult => Double): Double = med(traced)(f)
    val proj = med(timed) { p =>
      val full = p.spans.find(_.op.name == "orc.read").map(_.task.bytesRead).getOrElse(0L)
      val part = p.spans.find(_.op.name == "orc.read_proj").map(_.task.bytesRead).getOrElse(0L)
      if (full > 0) part.toDouble / full else 0.0
    }
    val filesRead = median(pairs.map { case (p, c) =>
      p.spans.find(_.op.name == "catalog.read_pruned").map { s =>
        c.scans.asScala.filter { case (ns, _) => ns >= s.buildStartNs && ns <= s.execEndNs }
          .map(_._2).sum.toDouble
      }.getOrElse(0.0)
    })
    val tableFiles = footprint.toMap.getOrElse("catalog.table_files", 0.0)
    val self = pairs.map { case (p, c) => Tracer.selfTimes(p, c) }
    Seq(
      "entry.build_s" -> tp(_.spans.map(_.buildS).sum),
      "entry.eager_jobs" -> c(_.eagerJobs.toDouble),
      "catalyst.analysis_s" -> c(_.analysisMs / 1e3),
      "catalyst.optimization_s" -> c(_.optimizationMs / 1e3),
      "catalyst.planning_s" -> c(_.planningMs / 1e3),
      "catalyst.query_executions" -> c(_.queryExecutions.toDouble),
      "codegen.compiles" -> c(_.compiles.toDouble),
      "codegen.compile_pct" -> median(pairs.map { case (p, c) => c.compileMs / 10 / p.wallS }),
      "scheduler.jobs" -> c(_.jobs.toDouble),
      "scheduler.stages" -> c(_.stages.toDouble),
      "scheduler.tasks" -> c(_.tasks.toDouble),
      "exec.run_s" -> tp(_.task.runMs / 1e3),
      "exec.cpu_s" -> tp(_.task.cpuNs / 1e9),
      "exec.gc_s" -> tp(_.task.gcMs / 1e3),
      "exec.shuffle_write_mb" -> tp(_.task.shuffleWrite / MB),
      "exec.shuffle_read_mb" -> tp(_.task.shuffleRead / MB),
      "exec.spill_mb" -> tp(_.task.spill / MB),
      "exec.cpu_per_run" -> tp(p => if (p.task.runMs > 0) p.task.cpuNs / 1e6 / p.task.runMs else 0.0),
      "io.read_rows_per_s" -> rate(timed, Read),
      "io.write_rows_per_s" -> rate(timed, Write),
      "io.proj_bytes_read_ratio" -> proj,
      "catalog.files_read_ratio" -> (if (tableFiles > 0) filesRead / tableFiles else 0.0),
      "self.build_s" -> median(self.map(_("self.build_s"))),
      "self.exec_s" -> median(self.map(_("self.exec_s"))),
      "self.catalyst_s" -> median(self.map(_("self.catalyst_s"))),
      "self.jobs_s" -> median(self.map(_("self.jobs_s"))),
      "trace.pass_s" -> tp(_.wallS),
      "trace.overhead_s" -> (tp(_.wallS) - med(timed)(_.wallS))
    ) ++ footprint.filter(_._1 != "catalog.table_files") ++ calls(timed)
  }
}
