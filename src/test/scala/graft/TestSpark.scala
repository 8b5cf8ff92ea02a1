package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared Hive-enabled session for the whole test run (suites run
  * sequentially; Spark sessions are process-global). Hive support is on so
  * catalog/RCFile suites work; plain DataFrame suites are unaffected.
  */
object TestSpark {
  lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  lazy val spark: SparkSession = {
    val s = GraftSession.localHive(warehouse, appName = "graft-test")
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
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Collect to a seq of rows as plain Scala values, for small asserts. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
