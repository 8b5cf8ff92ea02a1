package graft

/** Plan audit: prints the formatted physical plan of every selected
  * SparkEntry query and runs the static scale gate
  * ([[ScaleChecks.staticViolations]]) on it — no execution beyond the eager
  * jobs a query runs while it is built.
  *
  *   SPARK_GRAFT_ONLY=q148_assoc_rules,q153_triangles runMain graft.Plans <sfDir>
  *
  * Used to keep PLANS_r{N}.md honest — scans pruned, partial aggregates
  * ahead of exchanges, broadcasts where expected, no surprise nested
  * loops — and as the fast form of the gate Verify wires to exit 2: a
  * full 600-plan hygiene pass without Verify's execution. Prints one
  * `[gate] <query>: <violation>` line per violation and a `[gate] total`
  * line; exits 2 on any violation, else 3 when a query failed to plan (a
  * plan no check walked must not read as a pass). Run with
  * `-Dspark.graft.explainMaterialize=true` to also print each materialize
  * site's input plan (the final plan shows a Scan ExistingRDD stub there).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Plans <sfDir>")
    val sfDir = args(0)
    var nViolations = 0
    val failed = Sweep.run("plans") { sweep =>
      sweep.eachQuery { (name, fn) =>
        println(s"\n===== $name =====")
        val df = fn(sweep.spark, sfDir)
        ScaleChecks.staticViolations(df).foreach { v =>
          nViolations += 1
          println(s"[gate] $name: $v")
        }
        df.explain("formatted")
      }.collect { case (name, Left(e)) => (name, e) }
    }
    failed.foreach { case (name, e) =>
      println(s"[gate] $name PLAN-FAILED: ${String.valueOf(e.getMessage).take(120)}")
    }
    println(s"[gate] total violations: $nViolations, plan failures: ${failed.size}")
    if (nViolations > 0) sys.exit(2)
    if (failed.nonEmpty) sys.exit(3)
  }
}
