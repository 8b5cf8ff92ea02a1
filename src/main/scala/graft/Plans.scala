package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Plan-audit helper: print the formatted physical plan of selected
  * SparkEntry queries (comma-separated names in args(1), or all).
  *
  *   runMain graft.Plans <sfDir> q148_assoc_rules,q153_triangles
  *
  * Used to keep PLANS_r{N}.md honest — scans pruned, partial aggregates
  * ahead of exchanges, broadcasts where expected, no surprise nested
  * loops.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val cpus = GraftSession.envCpus(4)
    val wh = Files.createTempDirectory("graft-plans-wh").toString
    val spark = GraftSession.hiveBuilder(s"local[$cpus]", "graft-plans", wh)
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_EXPLAIN_MATERIALIZE=1: also print each materialize site's
    // pre-checkpoint input plan (the final plan shows a Scan ExistingRDD
    // stub for those subtrees)
    if (sys.env.get("GRAFT_EXPLAIN_MATERIALIZE").contains("1"))
      spark.conf.set(Materialize.ExplainKey, "true")
    SparkEntry.queries
      .filter(kv => names.isEmpty || names.contains(kv._1))
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"[plans] $name failed: ${e.getMessage}")
        }
        finally GraftSession.dropQueryState(spark)
      }
  }
}
