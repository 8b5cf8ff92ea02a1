package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the query-sweep mains (Bench, Verify, Plans, WindowAudit,
  * DomainAudit) run: a Hive session on `local[SPARK_GRAFT_CPUS]` (default
  * 4) over a temp warehouse that is deleted when the main's body returns or
  * throws, and one loop over the `SPARK_GRAFT_ONLY` selection.
  *
  * Hive support is for the catalog queries (q68-q70), which create metastore
  * tables; the Derby metastore sits inside the warehouse, so each run's
  * catalog is isolated and deleted with it.
  */
final class Sweep private (app: String, val spark: SparkSession,
                           val cpus: Int, names: Seq[String]) {

  /** Runs `body` on each selected query in name order and returns every
    * query's result or failure in the same order. A failure is logged as
    * `[<app>] <name> failed: <message>` and does not stop the sweep; the
    * query's cached and checkpointed blocks are dropped after each query,
    * failed or not, so they cannot skew the next one.
    */
  def eachQuery[T](body: (String, Sweep.Query) => T)
      : Seq[(String, Either[Throwable, T])] =
    names.map { name =>
      val r =
        try Right(body(name, SparkEntry.queries(name)))
        catch { case e: Throwable =>
          System.err.println(s"[$app] $name failed: ${e.getMessage}")
          Left(e)
        }
        finally GraftSession.dropQueryState(spark)
      name -> r
    }
}

object Sweep {
  type Query = (SparkSession, String) => DataFrame

  /** Runs `main` with the sweep session of app `graft-<app>`; the session
    * is stopped and its warehouse deleted afterwards. A main that must exit
    * non-zero returns its code and calls `sys.exit` after this returns —
    * `sys.exit` inside `main` would skip the cleanup.
    */
  def run[T](app: String)(main: Sweep => T): T = {
    val names = selected(sys.env.get("SPARK_GRAFT_ONLY"), SparkEntry.queries.keys)
    val cpus = GraftSession.envCpus(4)
    withScratchDir(s"graft-$app-wh") { wh =>
      val spark = GraftSession.hiveBuilder(s"local[$cpus]", s"graft-$app",
        wh.toString).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try main(new Sweep(app, spark, cpus, names)) finally spark.stop()
    }
  }

  /** Query names picked by `only` (a comma-separated `SPARK_GRAFT_ONLY`),
    * in name order; all of `known` when unset. An empty or unknown name
    * fails: a selection that picks nothing would read as a clean pass.
    */
  private[graft] def selected(only: Option[String],
                              known: Iterable[String]): Seq[String] =
    only match {
      case None => known.toSeq.sorted
      case Some(csv) =>
        val want = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
        require(want.nonEmpty, s"SPARK_GRAFT_ONLY names no query: '$csv'")
        val unknown = want -- known
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
        want.toSeq.sorted
    }

  /** Runs `body` with a fresh temp dir and deletes the dir and everything
    * under it afterwards, also when `body` throws.
    */
  def withScratchDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally JavaUtils.deleteRecursively(dir.toFile)
  }

  /** A fresh temp dir that lives until the JVM exits. It is deleted then by
    * a Hadoop shutdown hook registered below Spark's own priority, so it
    * runs after every session (and its Derby metastore) has stopped.
    */
  def tempDirUntilExit(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ShutdownHookManager.get().addShutdownHook(
      () => JavaUtils.deleteRecursively(dir.toFile),
      FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    dir
  }
}
