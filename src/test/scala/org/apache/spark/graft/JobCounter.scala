package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark-job counter for specs that pin HOW a path executed, not just its
  * result — e.g. that an adaptive bounded-collect short-circuit really
  * replaced the per-round job loop. Lives under `org.apache.spark`, like
  * `BenchMetrics`, to reach `listenerBus`: job-start events are async, so a
  * read must drain the bus first.
  */
class JobCounter(sc: SparkContext) extends AutoCloseable {
  private val jobs = new AtomicLong(0L)
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
  }
  sc.addSparkListener(listener)

  /** Drain pending listener events, then read the running job count. */
  def count(): Long = {
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
    jobs.get()
  }

  /** Deregister the listener — instantiated ad hoc in specs, so each
    * instance must not keep counting (and costing bus dispatch) for the
    * rest of the context's lifetime.
    */
  override def close(): Unit = sc.removeSparkListener(listener)
}
