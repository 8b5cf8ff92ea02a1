package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Session-wide settings: the one checkpoint decision in [[Materialize]],
  * the builder's settings, checkpoint cleanup and codegen cache, and how the
  * mains read their env vars, arguments, query selection and scratch dirs.
  * Only the Materialize, cleanup and codegen-cache tests touch the shared
  * session; the rest are pure functions, so this suite starts no session of
  * its own.
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
        assert(e.getMessage.contains("spark.checkpoint.dir"), name)
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

  test("Spark's own defaults keep AQE, runtime bloom filters, vectorized " +
    "ORC and parquet pushdown on") {
    // the builder no longer restates these; a Spark upgrade that flips one
    // of them must fail here rather than change every plan silently
    for (k <- Seq("spark.sql.adaptive.enabled",
                  "spark.sql.adaptive.coalescePartitions.enabled",
                  "spark.sql.adaptive.skewJoin.enabled",
                  "spark.sql.optimizer.runtime.bloomFilter.enabled",
                  "spark.sql.orc.enableVectorizedReader",
                  "spark.sql.parquet.filterPushdown"))
      assert(spark.conf.get(k) == "true", k)
  }

  test("GraftSession.builder turns on reliable checkpoint cleanup") {
    assert(spark.sparkContext.getConf
      .getOption("spark.cleaner.referenceTracking.cleanCheckpoints")
      .contains("true"))
  }

  test("codegen cache: a working set past Spark's default 100 classes " +
    "compiles nothing when it runs again") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each k inlines its own constants, so each projection is its own class
    def run(k: Int) = spark.range(4).selectExpr(s"id * $k + ${k + 1} as v").collect()
    val ks = 1 to 80
    val c0 = compiles
    ks.foreach(run)
    assert(compiles - c0 > 100, "the working set must outgrow Spark's default")
    val c1 = compiles
    ks.take(30).foreach(run)
    assert(compiles - c1 == 0, "classes compiled one pass earlier were evicted")
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
    // the same path for SPARK_GRAFT_REPEAT and Stress/RelScale's factor
    assert(GraftSession.positiveInt("SPARK_GRAFT_REPEAT", None, 2) == 2)
    assert(GraftSession.positiveInt("factor", Some(" 30 "), 20) == 30)
    for ((name, bad) <- Seq("SPARK_GRAFT_REPEAT" -> "two", "factor" -> "0",
                            "factor" -> "1.5")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.positiveInt(name, Some(bad), 1))
      assert(e.getMessage == s"$name must be a positive integer, got '$bad'")
    }
    // WindowAudit's rowThreshold: any Long, negative selects dump mode
    assert(GraftSession.long("rowThreshold", None, 5000L) == 5000L)
    assert(GraftSession.long("rowThreshold", Some("-1"), 5000L) == -1L)
    assert(GraftSession.long("rowThreshold", Some("9000000000"), 0L) == 9000000000L)
    val e = intercept[IllegalArgumentException](
      GraftSession.long("rowThreshold", Some("5k"), 5000L))
    assert(e.getMessage == "rowThreshold must be an integer, got '5k'")
  }

  test("builder settings: launcher system properties win over the defaults") {
    def settings(master: String, props: Map[String, String]) =
      GraftSession.settings(master, props).toMap
    val defaults = Map(
      "spark.master" -> "local[*]",
      "spark.sql.shuffle.partitions" -> GraftSession.defaultShufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "500",
      "spark.sql.codegen.useIdInClassName" -> "false")
    assert(settings("local[*]", Map.empty) == defaults)
    // a local[n] master sizes the shuffle to n
    assert(settings("local[6]", Map.empty) == defaults ++ Map(
      "spark.master" -> "local[6]", "spark.sql.shuffle.partitions" -> "6"))
    val launched = Map("spark.sql.shuffle.partitions" -> "7",
      "spark.sql.codegen.cache.maxEntries" -> "100",
      "spark.sql.codegen.useIdInClassName" -> "true")
    assert(settings("local[4]", launched) ==
      defaults ++ launched + ("spark.master" -> "local[4]"))
    // a launcher master replaces the fallback, and sizes the shuffle too
    assert(settings("local[4]", Map("spark.master" -> "local[3]")) ==
      defaults ++ Map("spark.master" -> "local[3]",
        "spark.sql.shuffle.partitions" -> "3"))
    assert(settings("local[4]", Map("spark.master" -> "spark://h:7077")) ==
      defaults + ("spark.master" -> "spark://h:7077"))
    // launcher keys the builder does not set are left to Spark
    assert(settings("local[*]", Map("spark.executor.memory" -> "2g")) == defaults)
  }

  test("SPARK_GRAFT_ONLY selection: name order; empty or unknown names fail") {
    val known = Seq("q2_b", "q10_c", "q1_a")
    assert(Sweep.selected(None, known) == Seq("q10_c", "q1_a", "q2_b"))
    assert(Sweep.selected(Some("q2_b, q1_a,q2_b"), known) == Seq("q1_a", "q2_b"))
    for (bad <- Seq("", " , ")) {
      val e = intercept[IllegalArgumentException](Sweep.selected(Some(bad), known))
      assert(e.getMessage.contains(s"SPARK_GRAFT_ONLY names no query: '$bad'"))
    }
    val e = intercept[IllegalArgumentException](
      Sweep.selected(Some("q1_a,zz,q9_typo"), known))
    assert(e.getMessage.endsWith("SPARK_GRAFT_ONLY names unknown queries: q9_typo,zz"))
  }

  test("withScratchDir deletes its dir and everything under it, also when " +
    "the body throws") {
    var dir: java.nio.file.Path = null
    val e = intercept[IllegalStateException](Sweep.withScratchDir("graft-scratch-spec") { d =>
      dir = d
      Files.createDirectories(d.resolve("wh/metastore_db"))
      Files.writeString(d.resolve("wh/metastore_db/seg0"), "x")
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage == "body failed")
    assert(dir != null && !Files.exists(dir))
    assert(Sweep.withScratchDir("graft-scratch-spec") { d => dir = d; 42 } == 42)
    assert(!Files.exists(dir))
  }
}
