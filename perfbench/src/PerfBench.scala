// Lives under org.apache.spark only to drain the listener bus
// (`listenerBus.waitUntilEmpty()`) before a pass's task metrics are read;
// everything else it touches is the engine's and Spark's public API.
package org.apache.spark.perfbench

import java.io.IOException
import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.util.Random

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** Warm-pass benchmark of the graft engine: one workload per JVM.
  *
  * A run is: session start, table touch, one warm-up pass whose outputs
  * are then fingerprinted or checksummed and compared (the check runs
  * after each call, outside its timing), then timed passes of the same
  * fixed panel until `seconds` of passes are measured (at least three).
  * The seed shuffles the order of the panel's operation groups in every
  * pass; the inputs are the same read-only tables.
  *
  * Every layer is measured from outside the engine, by timing calls into
  * its public functions and by Spark's public listeners. An untraced run
  * carries only a task-end listener and the thread CPU clock. With
  * `trace=1` one more pass is discarded, then the timed passes alternate
  * untraced and traced; only traced passes carry the [[Tracer]], and the
  * difference of the two medians is the tracing overhead.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, data (input
  * tables), work (scratch directory, deleted by the caller), expected
  * (fingerprint file), result (output JSON), spans (trace output), t0
  * (epoch ms at process launch).
  */
object PerfBench {

  sealed trait Kind
  case object Query extends Kind
  case object Read extends Kind
  case object Write extends Kind
  case object Ddl extends Kind

  /** One operation of a panel. `build` is the call that returns the plan:
    * the `SparkEntry` lambda for a gallery query, the table's `read` for
    * an I/O read, the source frame for a write. `exec` runs it. `check`
    * returns an error, or None when the output is correct.
    */
  final case class Op(name: String, kind: Kind, build: () => DataFrame, exec: DataFrame => Unit,
                      check: DataFrame => Option[String] = _ => None)

  /** Operations that must stay in order (a read follows its write); the
    * seed shuffles whole groups.
    */
  type Group = Seq[Op]

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val work = Paths.get(kv("work"))
    val t0Ms = kv("t0").toLong
    val panel = Panels.all.getOrElse(workload, sys.error(
      s"unknown workload '$workload'; expected one of ${Panels.all.keys.mkString(", ")}"))

    val wh = work.resolve("warehouse").toString
    val builder =
      if (panel.hive) GraftSession.hiveBuilder("local[4]", s"perfbench-$workload", wh)
      else GraftSession.builder("local[4]", s"perfbench-$workload")
        .config("spark.sql.warehouse.dir", wh)
    val spark = builder
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("hive.exec.dynamic.partition.mode", "nonstrict")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = System.currentTimeMillis()
    System.err.println(s"[perfbench] session ready at ${(sessionReady - t0Ms) / 1e3} s")

    val meter = new TaskMeter
    spark.sparkContext.addSparkListener(meter)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val expected = Fingerprint.load(kv("expected"))
    val fingerprint: (String, DataFrame) => Option[String] = (name, df) => {
      val fp = Fingerprint.of(df)
      expected.get(name) match {
        case Some(want) if want == fp => None
        case Some(want) => Some(s"fingerprint $fp, expected $want")
        case None => Some(s"no expected fingerprint, got $fp")
      }
    }
    val ctx = Panels.Ctx(spark, kv("data"), work, fingerprint)
    // Table touch: file listing and parquet footers of every input.
    panel.tables.foreach(t => spark.read.parquet(ctx.table(t)).count())
    val groups = panel.groups(ctx)
    System.err.println(s"[perfbench] tables touched at ${(System.currentTimeMillis() - t0Ms) / 1e3} s")
    val runner = new Runner(spark, meter)

    val checkPass = runner.pass(groups, new Random(seed), check = true)
    val checkDone = System.currentTimeMillis()

    val rng = new Random(seed + 1)
    val untraced = Seq.newBuilder[PassResult]
    val traced = Seq.newBuilder[PassResult]
    val discarded = Seq.newBuilder[PassResult]
    // A traced run discards one more pass, so that its first untraced pass,
    // still warming, does not skew the tracing overhead.
    val warm = if (trace) 1 else 0
    var measured = 0.0
    var n = -warm
    var sizes = Vector(scratchBytes(work))
    while (n < (if (trace) 6 else 3) || measured < seconds) {
      // Untraced and traced passes alternate U T T U, so the warming
      // trend across passes biases neither side.
      val on = trace && (n % 4 == 1 || n % 4 == 2)
      tracer.foreach(_.enable(on))
      val r = runner.pass(groups, rng, check = false)
      tracer.foreach(_.enable(false))
      if (n < 0) discarded += r
      else {
        if (on) traced += r else untraced += r
        measured += r.wallS
      }
      sizes :+= scratchBytes(work)
      n += 1
    }
    val timed = untraced.result()

    // Every pass drops and recreates what it writes, so the scratch area
    // must not grow past its size after the check pass; 16 MiB of slack
    // covers metastore logs.
    val growth = if (sizes.exists(_ > sizes.head + (16L << 20)))
      Seq(s"scratch area grew between passes: ${sizes.mkString(", ")} bytes") else Nil
    growth.foreach(m => System.err.println(s"[perfbench] $m"))

    val all = checkPass +: (discarded.result() ++ timed ++ traced.result())
    val out = new Json
    // Set-up is the engine's work before the first timed pass; the
    // benchmark's own output checks in the check pass are taken out.
    out.num("setup_s", (timed.head.startMs - t0Ms) / 1e3 - checkPass.checkS)
    out.num("attempted", all.map(_.spans.size).sum + 1)
    out.num("failed", all.map(_.failed).sum + growth.size)
    out.str("failures", (all.flatMap(_.failures) ++ growth).mkString("; "))
    out.str("pass_walls", timed.map(p => f"${p.wallS}%.3f").mkString(","))
    Metrics.endToEnd(timed).foreach { case (k, v) => out.num(k, v) }
    tracer.foreach { t =>
      out.num("session.start_s", (sessionReady - t0Ms) / 1e3)
      out.num("session.warmup_s", (checkDone - sessionReady) / 1e3 - checkPass.checkS)
      Metrics.perLayer(traced.result(), timed, t, HiveIo.footprint(spark, ctx, wh))
        .foreach { case (k, v) => out.num(k, v) }
      t.writeSpans(Paths.get(kv("spans")), traced.result())
    }
    Files.writeString(Paths.get(kv("result")), out.render())
    spark.stop()
  }

  /** Bytes the benchmark and the engine leave in the scratch area: the
    * warehouse, the I/O tables and the engine's temp files. Spark's own
    * block-manager directory is left out: Spark deletes a plan's shuffle
    * files only after a GC finds the plan unreachable, so it swings by a
    * pass's shuffle output.
    */
  def scratchBytes(work: Path): Long =
    dirBytes(work, skip = Some(work.resolve("spark-local"))) +
      dirBytes(Paths.get(System.getProperty("java.io.tmpdir")))

  /** Size of the regular files under `root`, skipping one subtree; files
    * that vanish while it walks are not counted.
    */
  def dirBytes(root: Path, skip: Option[Path] = None): Long = {
    var total = 0L
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (skip.contains(d)) FileVisitResult.SKIP_SUBTREE else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  /** One operation's call in one pass: build and exec on the nanoTime
    * clock, and the task metrics of the jobs it ran.
    */
  final case class OpSpan(op: Op, buildStartNs: Long, buildEndNs: Long, execEndNs: Long,
                          task: TaskTotals) {
    def buildS: Double = (buildEndNs - buildStartNs) / 1e9
    def callS: Double = (execEndNs - buildStartNs) / 1e9
  }

  /** `checkS` is the time the output checks took, outside `wallS`. */
  final case class PassResult(index: Int, startMs: Long, wallS: Double, driverCpuS: Double,
                              checkS: Double, spans: Seq[OpSpan], failures: Seq[String]) {
    def failed: Int = failures.size
    def task: TaskTotals = spans.map(_.task).foldLeft(TaskTotals.zero)(_ + _)
  }

  final class Runner(spark: SparkSession, meter: TaskMeter) {
    private val threads = ManagementFactory.getThreadMXBean
    private var passNo = 0

    /** Runs every operation once in a seeded order. Pass wall time and
      * driver CPU cover only the operations' calls; listener drains, the
      * output check and `dropQueryState` happen outside them.
      */
    def pass(groups: Seq[Group], rng: Random, check: Boolean): PassResult = {
      val sc = spark.sparkContext
      var wall, cpu, checked = 0L
      val spans = Seq.newBuilder[OpSpan]
      val failures = Seq.newBuilder[String]
      val startMs = System.currentTimeMillis()
      rng.shuffle(groups).flatten.foreach { op =>
        sc.setLocalProperty(Tracer.OpKey, s"$passNo/${op.name}")
        meter.drain(sc)
        val before = meter.totals()
        var err: Option[String] = None
        var df: DataFrame = null
        val c0 = threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        var t1 = 0L
        try {
          sc.setLocalProperty(Tracer.PhaseKey, "build")
          df = op.build()
          t1 = System.nanoTime()
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
          op.exec(df)
        } catch { case e: Throwable => err = Some(e.toString) }
        val t2 = System.nanoTime()
        val c1 = threads.getCurrentThreadCpuTime
        sc.setLocalProperty(Tracer.PhaseKey, null)
        meter.drain(sc)
        val task = meter.totals() - before
        if (check && err.isEmpty) {
          val c = System.nanoTime()
          err = try op.check(df) catch { case e: Throwable => Some(s"check threw $e") }
          checked += System.nanoTime() - c
        }
        err.foreach { m =>
          failures += s"${op.name}: ${m.take(300)}"
          System.err.println(s"[perfbench] ${op.name} failed: $m")
        }
        wall += t2 - t0
        cpu += c1 - c0
        spans += OpSpan(op, t0, if (t1 == 0L) t2 else t1, t2, task)
        sc.setLocalProperty(Tracer.OpKey, null)
        GraftSession.dropQueryState(spark)
      }
      val r = PassResult(passNo, startMs, wall / 1e9, cpu / 1e9, checked / 1e9,
        spans.result(), failures.result())
      System.err.println(f"[perfbench] pass $passNo${if (check) f" (check ${r.checkS}%.3f s)" else ""}: " +
        f"${r.wallS}%.3f s, driver CPU ${r.driverCpuS}%.3f s, exec CPU ${r.task.cpuNs / 1e9}%.3f s; " +
        r.spans.map(s => f"${s.op.name}=${s.callS}%.2f").mkString(" "))
      passNo += 1
      r
    }
  }

  /** Task-metric sums over a window; `peakMem` is the window's largest
    * task peak execution memory. `recordsRead` and `recordsWritten` are
    * the rows the tasks' input and output metrics counted.
    */
  final case class TaskTotals(tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                              peakMem: Long, shuffleWrite: Long, shuffleRead: Long,
                              spill: Long, bytesRead: Long, bytesWritten: Long,
                              recordsRead: Long, recordsWritten: Long) {
    def +(o: TaskTotals): TaskTotals = TaskTotals(tasks + o.tasks, cpuNs + o.cpuNs,
      runMs + o.runMs, gcMs + o.gcMs, math.max(peakMem, o.peakMem),
      shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
      bytesRead + o.bytesRead, bytesWritten + o.bytesWritten,
      recordsRead + o.recordsRead, recordsWritten + o.recordsWritten)
    def -(o: TaskTotals): TaskTotals = TaskTotals(tasks - o.tasks, cpuNs - o.cpuNs,
      runMs - o.runMs, gcMs - o.gcMs, peakMem, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, bytesRead - o.bytesRead,
      bytesWritten - o.bytesWritten, recordsRead - o.recordsRead,
      recordsWritten - o.recordsWritten)
  }
  object TaskTotals { val zero: TaskTotals = TaskTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

  /** The one listener of an untraced pass: task-end metrics. Each read of
    * `totals` starts a new peak-memory window.
    */
  final class TaskMeter extends SparkListener {
    private var acc = TaskTotals.zero
    private var peak = 0L

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        peak = math.max(peak, m.peakExecutionMemory)
        acc = acc + TaskTotals(1, m.executorCpuTime + m.executorDeserializeCpuTime,
          m.executorRunTime, m.jvmGCTime, 0,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten)
      }
    }

    def totals(): TaskTotals = synchronized {
      val r = acc.copy(peakMem = peak); peak = 0L; r
    }

    def drain(sc: SparkContext): Unit =
      try sc.listenerBus.waitUntilEmpty()
      catch { case _: java.util.concurrent.TimeoutException => () }
  }

  /** Flat JSON object of numbers and strings. */
  final class Json {
    private val b = Seq.newBuilder[String]
    def num(k: String, v: Double): Unit =
      b += s""""$k": ${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    def str(k: String, v: String): Unit =
      b += s""""$k": "${v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
      }}""""
    def render(): String = b.result().mkString("{\n", ",\n", "\n}\n")
  }
}
