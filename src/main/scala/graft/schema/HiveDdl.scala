package graft.schema

import org.apache.spark.sql.types._

/** Schema acquisition utilities mirroring the reference's four modes
  * (SURVEY.md §1.3): explicit name/type arrays, Hive DDL strings, catalog
  * retrieval, and inference.
  *
  * The reference parses Hive DDL with Hive's own ANTLR grammar
  * (cascading/hive/HiveSchemaUtil.java:37-77); Spark's `StructType.fromDDL`
  * is the same grammar family, so parsing is delegated there. The extras the
  * reference layers on top are engine logic:
  *   - default-to-string padding when fewer types than names are given
  *     (com/twitter/scalding/ColumnarSerDeSource.scala:31);
  *   - `_colN` naming for unnamed columns (cascading/hive/ORCFile.java:91,419-426).
  */
object HiveDdl {

  val DefaultColPrefix = "_col"
  val DefaultType      = "string"

  /** Parse a Hive DDL column list (e.g. "uid BIGINT, name STRING") into a
    * StructType. Accepts backquoted identifiers and nested types, same
    * surface as the reference's HiveSchemaUtil.parse.
    */
  def parse(ddl: String): StructType = StructType.fromDDL(ddl)

  /** Parallel name/type lists -> StructType; missing types pad to string
    * (reference: ColumnarSerDeSource.scala:31 `typeNames` pad logic).
    */
  def fromNamesAndTypes(names: Seq[String], types: Seq[String]): StructType = {
    require(names.nonEmpty, "at least one column name required")
    require(
      types.length <= names.length,
      s"more types (${types.length}) than names (${names.length})")
    val padded = types ++ Seq.fill(names.length - types.length)(DefaultType)
    StructType(names.zip(padded).map { case (n, t) =>
      StructField(n, parseTypeName(t))
    })
  }

  /** Hive type-name string -> Spark DataType (SURVEY.md §1.2 mapping).
    * `decimal` with no precision maps to the Hive default DecimalType(10,0);
    * `bigdecimal` (the reference ORC alias, ORCFile.java:230-232) maps to a
    * wide decimal.
    */
  def parseTypeName(t: String): DataType = t.trim.toLowerCase match {
    case "bigdecimal" => DecimalType(38, 18)
    case other        => StructType.fromDDL(s"`x` $other").head.dataType
  }

  /** Names for unnamed/positional columns: _col0, _col1, ...
    * (reference ORCFile.java:419-426; asserted ORCFileTest.java:180-191).
    */
  def defaultColNames(n: Int): Seq[String] =
    (0 until n).map(i => s"$DefaultColPrefix$i")
}
