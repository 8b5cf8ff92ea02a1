package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    // wipe stale results: a leftover dir from a removed/renamed query would
    // otherwise be compared as if current. Guarded: only entries this tool
    // itself writes (q*-named dirs, oracle_sql.json) are deleted, so a
    // mistyped outDir can't wipe an arbitrary directory.
    val out = new java.io.File(outDir)
    if (out.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val ours = "^q\\d+_.*".r
      out.listFiles().foreach { f =>
        if (ours.matches(f.getName) || f.getName == "oracle_sql.json") rm(f)
      }
    }
    out.mkdirs()
    // Scale-shape gate: every query's plan is statically audited (no extra
    // execution — analysis/optimization only) for hint-forced broadcasts of
    // unreduced growing tables, unreduced single-partition windows, and
    // growing x growing conditionless joins. Violations fail the run so a
    // scale regression reddens the round even when the sf0.01 oracle is
    // green (the r5 q281/q299 class). See ScaleChecks for the property.
    // SPARK_GRAFT_ONLY dumps/compares a subset while iterating locally.
    val scaleViolations = scala.collection.mutable.ListBuffer.empty[String]
    val selected = Sweep.run("verify") { sweep =>
      sweep.eachQuery { (name, fn) =>
        val df = fn(sweep.spark, sfDir)
        ScaleChecks.staticViolations(df).foreach { v =>
          scaleViolations += s"$name: $v"
          System.err.println(s"[verify][scale-audit] $name: $v")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }.map(_._1).toSet
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/scale_audit.json"),
      scaleViolations.map(q).mkString("[", ",", "]"))
    if (scaleViolations.nonEmpty) {
      System.err.println(
        s"[verify] SCALE-AUDIT FAILED: ${scaleViolations.size} violations " +
          "(see scale_audit.json)")
      sys.exit(2)
    }
  }
}
