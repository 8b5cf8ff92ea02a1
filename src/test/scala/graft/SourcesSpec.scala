package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.io._

/** File-source surface (SURVEY.md §2 A1-A8, A20-A21): round trips, schema
  * modes, compression invariance, projection.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // all-primitive-types fixture in the shape of rc_test (FIXTURES.md §1)
  private def typed = {
    val df = Seq(
      (1, -2L, 3.0f, 3.5, BigDecimal("5.0"), true, Array[Byte]('3'), "c",
        java.sql.Timestamp.valueOf("2000-01-03 00:00:00")),
      (2, -4L, 6.0f, 7.5, BigDecimal("8.0"), false, Array[Byte]('x'), "d",
        java.sql.Timestamp.valueOf("2000-01-04 00:00:00"))
    ).toDF("intCol", "bigintCol", "floatCol", "doubleCol", "decimalCol",
      "booleanCol", "binaryCol", "stringCol", "timestampCol")
    df
  }

  test("ORC write/read round trip preserves all primitive types") {
    val dir = TestSpark.tmpDir("orc-rt")
    val tbl = OrcTable(s"$dir/t")
    tbl.write(typed)
    val back = tbl.read(spark)
    assert(back.schema("bigintCol").dataType == LongType)
    assert(back.schema("decimalCol").dataType.isInstanceOf[DecimalType])
    assert(back.count() == 2)
    val r = back.orderBy("intCol").collect()(0)
    assert(r.getAs[Long]("bigintCol") == -2L)
    assert(new String(r.getAs[Array[Byte]]("binaryCol")) == "3")
  }

  test("ORC schema inference from footers (no schema given)") {
    val dir = TestSpark.tmpDir("orc-inf")
    OrcTable(s"$dir/t").write(typed)
    val inferred = OrcTable(s"$dir/t", SchemaSpec.Infer).read(spark)
    assert(inferred.schema.fieldNames.toSet == typed.schema.fieldNames.toSet)
  }

  test("compressed write equals uncompressed read-back (A21 invariance)") {
    val dir = TestSpark.tmpDir("orc-comp")
    val plainT = OrcTable(s"$dir/plain")
    plainT.write(typed)
    OrcTable(s"$dir/snappy").writeCompressed(typed)
    val a = TestSpark.rows(plainT.read(spark).orderBy("intCol").drop("binaryCol"))
    val b = TestSpark.rows(OrcTable(s"$dir/snappy").read(spark).orderBy("intCol").drop("binaryCol"))
    assert(a == b)
  }

  test("projection pushdown reaches the ORC scan (selectedCols)") {
    val dir = TestSpark.tmpDir("orc-proj")
    OrcTable(s"$dir/t").write(typed)
    val projected = OrcTable(s"$dir/t", selectedCols = Seq("intCol", "stringCol")).read(spark)
    assert(projected.columns.toSeq == Seq("intCol", "stringCol"))
    val plan = projected.queryExecution.executedPlan.toString
    // requiredSchema on the scan must mention only the selected columns
    assert(!plan.contains("doubleCol"), s"column pruning missing in:\n$plan")
  }

  test("text source with DDL schema and delimiter (TextDelimited fixtures)") {
    val dir = TestSpark.tmpDir("txt")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.tsv"),
      "1\ta\tA\n2\tb\tB\n3\tc\tC\n")
    val t = TextTable(s"$dir/data.tsv", SchemaSpec.Ddl("col1 int, col2 string, col3 string"))
    val df = t.read(spark)
    assert(df.schema("col1").dataType == IntegerType)
    assert(TestSpark.rows(df.orderBy("col1")).map(_.head) == Seq(1, 2, 3))
  }

  test("parquet round trip with explicit StructType") {
    val dir = TestSpark.tmpDir("pq")
    val t   = ParquetTable(s"$dir/t")
    t.write(typed.select($"intCol", $"stringCol"))
    val back = ParquetTable(s"$dir/t",
      SchemaSpec.Explicit(StructType(Seq(
        StructField("intCol", IntegerType), StructField("stringCol", StringType)))))
      .read(spark)
    assert(back.count() == 2)
  }

  test("names+types padding via SchemaSpec.NamesTypes (A20)") {
    val dir = TestSpark.tmpDir("pad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/d.csv"), "1,x\n2,y\n")
    val df = TextTable(s"$dir/d.csv",
      SchemaSpec.NamesTypes(Seq("a", "b"), Seq("int")), delimiter = ",").read(spark)
    assert(df.schema("a").dataType == IntegerType)
    assert(df.schema("b").dataType == StringType)
  }

  test("nested types round trip through ORC (array<struct>, map, struct)") {
    val dir = TestSpark.tmpDir("orc-nested")
    val df = spark.sql("""
      SELECT 1 AS id,
             array(named_struct('one', 'a', 'two', 2L,
                                'three', named_struct('four', 'x'), 'five', 'z')) AS arr,
             map('k1', 1, 'k2', 2) AS m,
             named_struct('s', 'v', 'n', 42) AS st
      UNION ALL
      SELECT 2, array(), map(), named_struct('s', CAST(NULL AS STRING), 'n', 0)""")
    val tbl = OrcTable(s"$dir/t")
    tbl.write(df)
    val back = tbl.read(spark).orderBy("id")
    assert(back.schema("arr").dataType.typeName == "array")
    assert(back.schema("m").dataType.typeName == "map")
    val r = back.collect()
    assert(r(0).getAs[Seq[org.apache.spark.sql.Row]]("arr").head.getAs[Long]("two") == 2L)
    assert(r(0).getAs[Map[String, Int]]("m")("k2") == 2)
    assert(r(1).getAs[org.apache.spark.sql.Row]("st").isNullAt(0))
  }

  test("nulls round trip in every primitive column (reference §1.4)") {
    val dir = TestSpark.tmpDir("orc-nulls")
    val withNulls = spark.sql("""
      SELECT CAST(NULL AS INT) AS i, CAST(NULL AS BIGINT) AS l,
             CAST(NULL AS DOUBLE) AS d, CAST(NULL AS BOOLEAN) AS b,
             CAST(NULL AS STRING) AS s, CAST(NULL AS TIMESTAMP) AS t,
             CAST(NULL AS BINARY) AS bin, CAST(NULL AS DECIMAL(10,2)) AS dec
      UNION ALL
      SELECT 1, 2L, 3.5D, true, 'x', TIMESTAMP '2000-01-03 00:00:00',
             CAST('3' AS BINARY), CAST(5.0 AS DECIMAL(10,2))""")
    val tbl = OrcTable(s"$dir/t")
    tbl.write(withNulls)
    val back = tbl.read(spark).orderBy($"i".asc_nulls_first).collect()
    assert((0 until 8).forall(back(0).isNullAt))
    assert(!back(1).isNullAt(0))
  }

  test("direct row iteration and incremental collector (B10, §3.2-3.3)") {
    val dir = TestSpark.tmpDir("rowaccess")
    val schema = graft.schema.HiveDdl.parse("id int, name string")
    val out = OrcTable(s"$dir/t")
    val coll = RowAccess.openForWrite(spark, schema, out)
    coll.add(1, "a")
    coll.add(2, "b")
    coll.add(3, "c")
    assert(coll.size == 3)
    coll.close()
    val it = RowAccess.iterator(out.read(spark).orderBy("id"))
    val got = it.map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("missing input path raises with the path in the message") {
    val ex = intercept[Exception] {
      OrcTable("/nonexistent/graft/path").read(spark).collect()
    }
    assert(ex.getMessage.contains("/nonexistent/graft/path"))
  }

  test("compaction rewrites a many-small-files dir into few files, same data") {
    val dir = TestSpark.tmpDir("compact")
    val df = spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.mode("overwrite").parquet(dir) // small-files ingest pattern
    assert(Compaction.dataFileCount(spark, dir) >= 64)
    val sumBefore = spark.read.parquet(dir).selectExpr("sum(v)").collect()(0).getLong(0)
    val n = Compaction.compact(spark, dir, "parquet", targetBytes = 1L << 30)
    assert(n == 1, s"expected 1 compacted file, got $n")
    assert(Compaction.dataFileCount(spark, dir) == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == 10000)
    assert(after.selectExpr("sum(v)").collect()(0).getLong(0) == sumBefore)
    // staging/old dirs are gone
    assert(!new java.io.File(s"$dir.__compact_staging").exists())
    assert(!new java.io.File(s"$dir.__compact_old").exists())
  }
}
