package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.CatalogTable
import graft.io.{RcFileHiveTable, RegexExcludingFileIndex}
import graft.schema.HiveDdl

/** Metastore-backed behaviors (SURVEY.md §2 A10-A16) on a local Hive-support
  * warehouse — the engine's analog of the reference's embedded-H2 metastore
  * fixture (HCatTapTest scenarios).
  */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample07 = Seq(
    ("11-1011", "Chief executives", 299160, 151370),
    ("11-1021", "General managers", 1655410, 103780),
    ("11-2011", "Ad managers", 36300, 91100)
  ).toDF("code", "description", "total_emp", "salary")

  test("catalog-resolved read via table name (HCatTap source)") {
    spark.sql("DROP TABLE IF EXISTS default.sample_07")
    sample07.write.saveAsTable("default.sample_07")
    val df = CatalogTable("default", "sample_07").read(spark)
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("code", "description", "total_emp", "salary"))
  }

  test("insertByName aligns by name, null-fills missing, drops extra (A15)") {
    spark.sql("DROP TABLE IF EXISTS default.align_target")
    spark.sql("CREATE TABLE default.align_target (a INT, b STRING, c DOUBLE) USING parquet")
    // input has b, a (wrong order), extra column x, missing c
    val in = Seq(("hello", 1, 9.9)).toDF("b", "a", "x")
    CatalogTable("default", "align_target").insertByName(in)
    val got = spark.table("default.align_target").collect()(0)
    assert(got.getInt(0) == 1)
    assert(got.getString(1) == "hello")
    assert(got.isNullAt(2))
  }

  test("partitioned table + filter string prunes partitions (A11/A12)") {
    spark.sql("DROP TABLE IF EXISTS default.part_tbl")
    val data = Seq((1, "x", "20120401"), (2, "y", "20120401"), (3, "z", "20120402"))
      .toDF("id", "v", "ds")
    data.write.partitionBy("ds").saveAsTable("default.part_tbl")
    val ct = CatalogTable("default", "part_tbl")
    assert(ct.read(spark, Some("ds=20120401")).count() == 2)
    assert(ct.read(spark, Some("ds>20120401")).count() == 1)
    assert(ct.read(spark, Some("ds like '201204%'")).count() == 3)
    // pruning visible in the plan: only one partition dir scanned
    val plan = ct.read(spark, Some("ds=20120402")).queryExecution.executedPlan.toString
    assert(!plan.contains("ds=20120401") || plan.contains("partitionFilters"))
  }

  test("commit-time relocation: write to path then SET LOCATION (A16)") {
    spark.sql("DROP TABLE IF EXISTS default.reloc")
    Seq((1, "a")).toDF("id", "v").write.saveAsTable("default.reloc")
    val newPath = TestSpark.tmpDir("reloc-new")
    val ct = CatalogTable("default", "reloc")
    ct.writeAndRelocate(Seq((2, "b"), (3, "c")).toDF("id", "v"), newPath)
    val back = spark.table("default.reloc")
    assert(back.count() == 2)
    assert(TestSpark.rows(back.orderBy("id")).map(_.head) == Seq(2, 3))
  }

  test("identifier URI form (A22)") {
    val ct = CatalogTable("db", "tbl")
    assert(ct.identifier() == "hcatalog://db.tbl")
    assert(ct.identifier(Some("ds=1")) == "hcatalog://db.tbl?filter=ds=1")
  }

  test("regex file exclusion when listing (A13)") {
    val dir = TestSpark.tmpDir("excl")
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$dir/keep")
    Seq((2, "b")).toDF("id", "v").write.parquet(s"$dir/skipme")
    val df = RegexExcludingFileIndex.read(spark, dir, "parquet", ".*skipme.*")
    val files = df.inputFiles.toSeq
    assert(files.exists(_.contains("/keep/")), files)
    assert(files.forall(!_.contains("skipme")), files)
    assert(TestSpark.rows(df.select("id")).flatten == Seq(1))
  }

  test("indexed regex exclusion: scan-integrated, pushdown intact, inference " +
      "ignores excluded files (A13)") {
    val dir = TestSpark.tmpDir("excl-idx")
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").write.parquet(s"$dir/t")
    // decoy with a DIVERGENT schema: if exclusion ran after inference (or
    // not at all), the read would see column junk / fail the merge
    Seq((9.5, true)).toDF("junk", "flag").write.parquet(s"$dir/decoy")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/decoy"))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-")).head
    fs.rename(part.getPath,
      new org.apache.hadoop.fs.Path(s"$dir/t/skipme_0.parquet"))
    val df = RegexExcludingFileIndex.read(spark, s"$dir/t", "parquet", ".*skipme.*")
    assert(df.columns.toSeq == Seq("id", "v"),
      s"inference must only see surviving files: ${df.columns.toSeq}")
    assert(TestSpark.rows(df.orderBy("id").select("id")).flatten == Seq(1, 2, 3))
    // the plan is a normal file scan with the filter pushed down, not an
    // explicit-path union
    val plan = df.filter($"id" > 1).queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(id,1\\)".r.findFirstIn(plan).isDefined,
      s"pushdown must survive the FileIndex decorator:\n$plan")
  }

  test("RCFile round trip: full reference type set incl. decimal/timestamp/binary " +
      "(A1/A2, RCFileTest.java:51-63, RCFile.java:256-301)") {
    spark.sql("DROP TABLE IF EXISTS default.rc_rt_full")
    val rc = RcFileHiveTable("default.rc_rt_full")
    rc.create(spark, HiveDdl.parse(
      "tinyintCol tinyint, smallintCol smallint, intCol int, bigintCol bigint, " +
        "floatCol float, doubleCol double, decimalCol decimal(10,2), " +
        "booleanCol boolean, binaryCol binary, stringCol string, " +
        "timestampCol timestamp"))
    val ts = java.sql.Timestamp.valueOf("2011-09-14 10:20:30.0")
    val data = Seq(
      (1.toByte, 2.toShort, 3, 4L, 5.5f, 6.25, BigDecimal("123.45"), true,
        Array[Byte](0x0a, 0x1b, 0x2c), "row one", ts),
      (-1.toByte, -2.toShort, -3, -4L, -5.5f, -6.25, BigDecimal("-0.05"), false,
        // NB non-empty: Hive's LazyBinaryColumnarSerDe rejects zero-length
        // binary values (the reference's text ColumnarSerDe Base64-encodes
        // and has no such limit — RCFile.java:263-266)
        Array[Byte](0x7f), "row two",
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.0")))
      .toDF("tinyintCol", "smallintCol", "intCol", "bigintCol", "floatCol",
        "doubleCol", "decimalCol", "booleanCol", "binaryCol", "stringCol",
        "timestampCol")
      .withColumn("decimalCol", col("decimalCol").cast("decimal(10,2)"))
    rc.append(data)
    val back = rc.read(spark).orderBy(col("intCol").desc).collect()
    assert(back.length == 2)
    val r = back(0)
    assert(r.getByte(0) == 1 && r.getShort(1) == 2 && r.getInt(2) == 3 &&
      r.getLong(3) == 4L)
    assert(r.getFloat(4) == 5.5f && r.getDouble(5) == 6.25)
    assert(r.getDecimal(6) == new java.math.BigDecimal("123.45"))
    assert(r.getBoolean(7))
    assert(r.getAs[Array[Byte]](8).toSeq == Seq[Byte](0x0a, 0x1b, 0x2c))
    assert(r.getString(9) == "row one")
    assert(r.getTimestamp(10) == ts)
    val r2 = back(1)
    assert(r2.getByte(0) == -1 && r2.getDecimal(6) == new java.math.BigDecimal("-0.05"))
    assert(r2.getAs[Array[Byte]](8).toSeq == Seq[Byte](0x7f))
    val fmt = spark.sql("DESCRIBE FORMATTED default.rc_rt_full").collect()
      .find(_.getString(0).trim.startsWith("InputFormat")).get.getString(1)
    assert(fmt.toLowerCase.contains("rcfile"), s"unexpected format $fmt")
  }

  test("insertByName into a partitioned table writes multiple dynamic " +
      "partitions in one commit (A15/A16, TapFactory.java:25-72)") {
    spark.sql("DROP TABLE IF EXISTS default.dynpart")
    spark.sql(
      "CREATE TABLE default.dynpart (id INT, v STRING, ds STRING) USING parquet PARTITIONED BY (ds)")
    spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
    // input: columns out of order + an extra column; rows span two partitions
    val in = Seq(("x", "20120401", 1, 9.9), ("y", "20120401", 2, 8.8),
        ("z", "20120402", 3, 7.7))
      .toDF("v", "ds", "id", "junk")
    CatalogTable("default", "dynpart").insertByName(in)
    val parts = spark.sql("SHOW PARTITIONS default.dynpart")
      .collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("ds=20120401", "ds=20120402"))
    assert(spark.table("default.dynpart").count() == 3)
    // a second insert appends without clobbering existing partitions
    CatalogTable("default", "dynpart")
      .insertByName(Seq(("w", "20120403", 4)).toDF("v", "ds", "id"))
    assert(spark.table("default.dynpart").count() == 4)
    assert(spark.sql("SHOW PARTITIONS default.dynpart").count() == 3)
  }

  test("writeAndRelocate refuses a table whose format it cannot write (RCFile)") {
    spark.sql("DROP TABLE IF EXISTS default.rc_reloc")
    val rc = RcFileHiveTable("default.rc_reloc")
    rc.create(spark, HiveDdl.parse("id int, v string"))
    val e = intercept[IllegalArgumentException] {
      CatalogTable("default", "rc_reloc")
        .writeAndRelocate(Seq((1, "a")).toDF("id", "v"), TestSpark.tmpDir("rc-reloc"))
    }
    assert(e.getMessage.contains("insertByName"))
  }

  test("RCFile table round trip via Hive support (A1/A2, rc_test types)") {
    spark.sql("DROP TABLE IF EXISTS default.rc_rt")
    val rc = RcFileHiveTable("default.rc_rt")
    rc.create(spark, HiveDdl.parse(
      "intCol int, bigintCol bigint, doubleCol double, booleanCol boolean, stringCol string"))
    val data = Seq((1, -2L, 3.5, true, "c"), (2, -4L, 7.5, false, "d"))
      .toDF("intCol", "bigintCol", "doubleCol", "booleanCol", "stringCol")
    rc.append(data)
    val back = rc.read(spark)
    assert(back.count() == 2)
    val r = back.orderBy("intCol").collect()(0)
    assert(r.getLong(1) == -2L && r.getBoolean(3) && r.getString(4) == "c")
    // verify it is really stored as RCFile
    val fmt = spark.sql("DESCRIBE FORMATTED default.rc_rt").collect()
      .find(_.getString(0).trim.startsWith("InputFormat")).get.getString(1)
    assert(fmt.toLowerCase.contains("rcfile"), s"unexpected format $fmt")
  }
}
