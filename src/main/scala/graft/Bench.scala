package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries are forced through the `noop` datasource sink — a bare `count()`
  * would let Catalyst prune the very projections being measured (a
  * select-only query would degenerate to a parquet row-count). A warmup pass
  * touches every table so first-query timings don't absorb session/footer
  * initialization.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Each query runs `repeat` times and records the MINIMUM wall time: the
    // box this runs on shows load-average spikes from outside the container
    // that inflate single-shot timings 60-80% across the board, and min-of-N
    // is the standard steady-state estimate under external noise. Failed
    // queries record -1 (never a partial wall time) and land in "errors" —
    // a crashed query must not be mistakable for a fast one.
    val repeat = GraftSession.positiveInt("SPARK_GRAFT_REPEAT",
      sys.env.get("SPARK_GRAFT_REPEAT"), 2)
    val (cpus, results) = Sweep.run("bench") { sweep =>
      val spark = sweep.spark
      // Warmup: file listing, parquet footers, codegen compiler, shuffle infra.
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      spark.range(1000000).selectExpr("sum(id) as s").collect()
      // Executor CPU time per query, next to wall: CPU is robust to the
      // external host-load spikes this box takes, so the cross-round ratchet
      // can tell code regressions (CPU moves too) from noise (only wall
      // moves).
      val meter = new org.apache.spark.graft.BenchMetrics(spark.sparkContext)
      val timed = sweep.eachQuery { (_, fn) =>
        val runs = (1 to repeat).map { i =>
          // Drop persisted intermediates (several dedup/ANN queries cache
          // their self-check inputs) so cached blocks don't skew the next
          // run — OUTSIDE the timed window, teardown is not the query's cost.
          if (i > 1) GraftSession.dropQueryState(spark)
          meter.measure(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
        runs.foreach(_.get) // a failed run fails the query: -1 below
        (runs.map(_.wallSeconds).min, runs.map(_.cpuSeconds).min)
      }
      (sweep.cpus, timed.map { case (name, r) =>
        (name, r.fold(_ => -1.0, _._1), r.fold(_ => -1.0, _._2)) })
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cq = results.map { case (k, _, c) => "\"" + k + "\":" + f"$c%.3f" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val cpuTotal = results.map(_._3).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpu_queries":$cq,"cpu_total":${f"$cpuTotal%.1f"},"errors":$errs,"repeat":$repeat,"sf":"$sfDir"}"""
    // The full JSON also goes to a FILE: the driver's stdout capture
    // truncates long lines (600 wall + 600 CPU entries), and a tail cut
    // mid-map invites misreads (r6: a CPU-map tail diffed against an r5
    // wall-map tail fabricated 18x phantom regressions). The marker line
    // is short and survives any truncation; the file is the record.
    // Default lands IN THE REPO (the driver launches Bench from the repo
    // root, and its end-of-round snapshot commits the tree) so the
    // committed artifact IS what Bench wrote, byte-identical — three
    // rounds of driver-side stdout captures truncated mid-map
    // (BENCH_r0{5,6,7}.json `parsed: null`) while the /tmp default sat
    // uncommitted. Ad-hoc sweeps override via SPARK_GRAFT_BENCH_JSON.
    // The default is anchored to the DETECTED repo root (walk up from CWD
    // to the dir holding build.sbt + src/main/scala/graft), not to the
    // CWD itself: a run launched from elsewhere must not scatter the
    // committed-artifact file into a random directory — or fail post-run
    // in an unwritable one. No root found -> skip the file write with a
    // clear message; the stdout JSON line above is always complete.
    val repoRoot =
      Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
        .takeWhile(_ != null)
        .find(d => java.nio.file.Files.exists(d.resolve("build.sbt")) &&
          java.nio.file.Files.isDirectory(d.resolve("src/main/scala/graft")))
    // One file per core count, BENCH_LOCAL_c<cpus>.json: a round runs the
    // bench twice (full cores, then reduced cores for the scaling
    // measurement), and a single shared file let round 9's second run
    // overwrite the 32-core per-query record. SPARK_GRAFT_BENCH_JSON
    // overrides it.
    val out: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_JSON")
      .orElse(repoRoot.map(_.resolve(s"BENCH_LOCAL_c$cpus.json").toString))
    // stdout FIRST: the JSON line is the only other copy of the results,
    // and an unwritable SPARK_GRAFT_BENCH_JSON path must not destroy an
    // hours-long run's numbers after the fact
    println(json)
    val written: Option[String] = out match {
      case None =>
        System.err.println("[bench] no graft repo root above CWD and no " +
          "SPARK_GRAFT_BENCH_JSON set — skipping the file write (results " +
          "are on the stdout JSON line above)")
        None
      case Some(path) =>
        try {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(path), json + "\n")
          println(s"BENCH_JSON $path")
          Some(path)
        } catch {
          case e: Exception =>
            System.err.println(s"[bench] could not write $path: $e " +
              "(results are on the stdout JSON line above)")
            None
        }
    }
    // Compact summary as the LAST stdout line: the driver captures only a
    // ~2 KB tail of this process's output, and the full per-query JSON line
    // (~33 KB at 600 queries) has outlived that capture every round
    // (BENCH_r01..r09 all ended `parsed: null`). This line carries the
    // totals and points at the per-query file; it stays a few hundred bytes
    // no matter how many queries run.
    val nErr = results.count(_._2 < 0)
    // error names capped at 5 so a pathological all-fail run can't push
    // this line past the tail capture either; the file has the full list
    val errsCapped = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .take(5).mkString("[", ",", "]")
    val summary = s"""{"metric":"total","value":${f"$total%.1f"},"unit":"sec","cpu_total":${f"$cpuTotal%.1f"},"n_queries":${results.size},"n_errors":$nErr,"errors":$errsCapped,"repeat":$repeat,"cpus":$cpus,"sf":"$sfDir","queries_file":${written.map("\"" + _ + "\"").getOrElse("null")}}"""
    println(summary)
  }
}
