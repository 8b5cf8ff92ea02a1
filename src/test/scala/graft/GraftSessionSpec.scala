package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Session-wide settings: the one checkpoint decision in [[Materialize]],
  * the builder's checkpoint cleanup, and the mains' core-count variable.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rddDirs(root: String): Set[String] =
    Using.resource(Files.walk(Paths.get(root))) { s =>
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .map(_.toString).toSet
    }

  test("reliableMaterialize: both forms need a checkpoint dir, then write " +
    "under it and return the default rows") {
    val df = spark.range(0, 200).selectExpr("id", "id * 3 % 17 as v")
    val forms: Seq[(String, DataFrame => DataFrame)] =
      Seq("lazy" -> (d => Materialize(d)), "eager" -> (d => Materialize.eager(d)))
    def sorted(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val want = sorted(df)
    forms.foreach { case (name, f) => assert(sorted(f(df)) == want, name) }

    TestSpark.withReliableMaterialize {
      spark.sparkContext.setCheckpointDir(null)
      forms.foreach { case (name, f) =>
        val e = intercept[IllegalArgumentException](f(df))
        assert(e.getMessage.contains(
          s"${Materialize.ConfKey}=true requires sparkContext.setCheckpointDir"),
          name)
      }
      val dir = TestSpark.tmpDir("graft-materialize-ckpt")
      spark.sparkContext.setCheckpointDir(dir)
      try {
        var seen = rddDirs(dir)
        assert(seen.isEmpty)
        forms.foreach { case (name, f) =>
          val out = f(df)
          val now = rddDirs(dir)
          assert((now -- seen).nonEmpty, s"$name wrote no checkpoint under $dir")
          assert(sorted(out) == want, name)
          seen = now
        }
      } finally spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("GraftSession.builder turns on reliable checkpoint cleanup") {
    assert(spark.sparkContext.getConf
      .getOption("spark.cleaner.referenceTracking.cleanCheckpoints")
      .contains("true"))
  }

  test("SPARK_GRAFT_CPUS parsing: default when unset, positive ints only") {
    def parse(raw: Option[String]) =
      GraftSession.positiveInt("SPARK_GRAFT_CPUS", raw, 4)
    assert(parse(None) == 4)
    assert(parse(Some("8")) == 8)
    for (bad <- Seq("abc", "0", "-2")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad)))
      assert(e.getMessage == s"SPARK_GRAFT_CPUS must be a positive integer, got '$bad'")
    }
  }
}
