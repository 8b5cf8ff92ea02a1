package org.apache.spark.graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Executor-CPU-time meter for the bench ratchet. Lives under
  * `org.apache.spark` only to reach `listenerBus.waitUntilEmpty()` (the
  * standard test-utils drain — listener events are async, so a per-query
  * CPU reading taken right after an action would otherwise race the bus).
  *
  * Why CPU next to wall: the bench box takes external load spikes that
  * inflate wall times 60-80% across the board; executor CPU time is
  * load-robust, so the cross-round ratchet can separate real code
  * regressions (CPU moves) from host noise (only wall moves) without the
  * manual old-commit A/B runs round 5 needed.
  */
class BenchMetrics(sc: SparkContext) {
  private val cpuNs = new AtomicLong(0L)
  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null)
        cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      ()
    }
  })

  /** Drain pending listener events, then read the running CPU counter. */
  def cpuSeconds(): Double = {
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
    cpuNs.get() / 1e9
  }

  private val threads = ManagementFactory.getThreadMXBean

  /** Runs `body` once: its wall seconds, the executor CPU seconds of the
    * tasks it ran, the CPU seconds of the calling (driver) thread, the
    * codegen compiles in this JVM while it ran, and its result or the
    * failure it threw. The one timing path of the mains; a failure is
    * returned, not thrown, so the caller decides whether it ends the run.
    * Driver CPU is the calling thread's `ThreadMXBean` time, as perfbench
    * reads it: building the plan, analysis, optimization, planning and
    * AQE's re-planning between stages, not the task threads. Compiles are
    * this JVM's `CodegenMetrics` count: driver and task compiles under a
    * `local[n]` master, driver compiles only when executors run in other
    * JVMs.
    */
  def measure[T](body: => T): BenchMetrics.Measured[T] = {
    val c0 = cpuSeconds()
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val d0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val driver = (threads.getCurrentThreadCpuTime - d0) / 1e9
    BenchMetrics.Measured(wall, cpuSeconds() - c0, driver,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0, result)
  }
}

object BenchMetrics {
  final case class Measured[T](wallSeconds: Double, cpuSeconds: Double,
                               driverCpuSeconds: Double, compiles: Long,
                               result: Either[Throwable, T]) {
    /** The result, or the failure rethrown. */
    def get: T = result.fold(e => throw e, identity)
  }
}
