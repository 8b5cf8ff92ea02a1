package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared Hive-enabled session for the whole test run (suites run
  * sequentially; Spark sessions are process-global). Hive support is on so
  * catalog/RCFile suites work; plain DataFrame suites are unaffected.
  */
object TestSpark {
  /** One scratch root per test run: the warehouse and every [[tmpDir]]
    * live under it, and it is deleted at JVM exit.
    */
  private lazy val root: java.nio.file.Path = Sweep.tempDirUntilExit("graft-test")

  lazy val warehouse: String = tmpDir("graft-warehouse")

  lazy val spark: SparkSession = {
    // Hive's session resources dir would otherwise default to java.io.tmpdir
    sys.props("spark.hadoop.hive.downloaded.resources.dir") = tmpDir("hive-resources")
    val s = GraftSession.hiveBuilder("local[*]", "graft-test", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
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
