package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared Hive-enabled session for the whole test run (suites run
  * sequentially; Spark sessions are process-global). Hive support is on so
  * catalog/RCFile suites work; plain DataFrame suites are unaffected.
  */
object TestSpark {
  /** One scratch root per test run: the warehouse and every [[tmpDir]]
    * live under it. It is deleted at JVM exit by a Hadoop shutdown hook
    * registered below Spark's own priority, so it runs after the shared
    * session (and its Derby metastore) has stopped.
    */
  private lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.spark.network.util.JavaUtils.deleteRecursively(dir.toFile),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    dir
  }

  lazy val warehouse: String = tmpDir("graft-warehouse")

  lazy val spark: SparkSession = {
    // Hive's session resources dir would otherwise default to java.io.tmpdir
    sys.props("spark.hadoop.hive.downloaded.resources.dir") = tmpDir("hive-resources")
    GraftSession.localHive(warehouse, appName = "graft-test")
  }

  /** Runs `body` with `spark.graft.reliableMaterialize=true` on the shared
    * session, unsetting it afterwards so later suites see the default.
    */
  def withReliableMaterialize[T](body: => T): T = {
    spark.conf.set(Materialize.ConfKey, "true")
    try body finally spark.conf.unset(Materialize.ConfKey)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** Collect to a seq of rows as plain Scala values, for small asserts. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
