package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.schema.HiveDdl
import graft.catalog.PartitionFilter

/** Schema acquisition (SURVEY.md §1.3) and the partition-filter grammar
  * (§2 A11). DDL fixtures from FIXTURES.md §6 (HiveSchemaUtilTest).
  */
class SchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parses a simple column list with newline") {
    val s = HiveDdl.parse("id INT, name STRING, price DOUBLE, \n description STRING")
    assert(s.fieldNames.toSeq == Seq("id", "name", "price", "description"))
    assert(s("price").dataType == DoubleType)
  }

  test("case-insensitive type names") {
    val s = HiveDdl.parse("col1 int, col2 string")
    assert(s("col1").dataType == IntegerType)
    assert(s("col2").dataType == StringType)
  }

  test("backquoted identifiers and array types") {
    val s = HiveDdl.parse("`complex` ARRAY<STRING>")
    assert(s("complex").dataType == ArrayType(StringType))
  }

  test("deeply nested array<struct<...struct<...>>>") {
    val s = HiveDdl.parse(
      "`id` INT, `name` STRING, `arr` ARRAY<STRUCT<`one`:STRING,`two`:BIGINT," +
        "`three`:STRUCT<`four`:STRING>,`five`:STRING>>")
    val arr = s("arr").dataType.asInstanceOf[ArrayType]
    val st  = arr.elementType.asInstanceOf[StructType]
    assert(st.fieldNames.toSeq == Seq("one", "two", "three", "four", "five").filter(st.fieldNames.contains))
    assert(st("three").dataType.asInstanceOf[StructType]("four").dataType == StringType)
  }

  test("names+types with default-to-string padding (ColumnarSerDeSource)") {
    val s = HiveDdl.fromNamesAndTypes(Seq("a", "b", "c"), Seq("int"))
    assert(s("a").dataType == IntegerType)
    assert(s("b").dataType == StringType)
    assert(s("c").dataType == StringType)
  }

  test("more types than names is rejected (reference IllegalArgumentException)") {
    intercept[IllegalArgumentException] {
      HiveDdl.fromNamesAndTypes(Seq("a"), Seq("int", "string"))
    }
  }

  test("type-name mapping incl. bigdecimal and timestamp") {
    assert(HiveDdl.parseTypeName("bigdecimal") == DecimalType(38, 18))
    assert(HiveDdl.parseTypeName("timestamp") == TimestampType)
    assert(HiveDdl.parseTypeName("binary") == BinaryType)
    assert(HiveDdl.parseTypeName("smallint") == ShortType)
  }

  test("_colN default naming") {
    assert(HiveDdl.defaultColNames(3) == Seq("_col0", "_col1", "_col2"))
  }

  // --- partition filter strings (grammar from HCatTap.java:79-85) ----------

  private val parts = Seq(
    ("20120401", 1, "a"), ("20120401", 2, "b"),
    ("20120402", 1, "c"), ("20120403", 3, "d")
  ).toDF("ds", "h", "v")

  private def keep(f: String): Seq[String] =
    TestSpark.rows(parts.filter(PartitionFilter.parse(f)).select("v").orderBy("v"))
      .flatten.map(_.toString)

  test("equality filter ds=20120401") {
    assert(keep("ds=20120401") == Seq("a", "b"))
  }

  test("and / or / parens / comparison") {
    assert(keep("ds>=20120402 and (h=1 or h=3)") == Seq("c", "d"))
    assert(keep("ds<>'20120402'") == Seq("a", "b", "d"))
    assert(keep("h<=2 and h>1") == Seq("b"))
  }

  test("like with quoted pattern") {
    assert(keep("ds like '2012040%'") == Seq("a", "b", "c", "d"))
    assert(keep("ds like '%03'") == Seq("d"))
  }

  test("bad input raises") {
    intercept[IllegalArgumentException](PartitionFilter.parse("ds ="))
    intercept[IllegalArgumentException](PartitionFilter.parse("(ds=1"))
    intercept[IllegalArgumentException](PartitionFilter.parse("ds ~ 3"))
  }
}
