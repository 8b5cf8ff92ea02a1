package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.schema.HiveDdl

/** Schema acquisition modes for a file source (SURVEY.md §1.3). */
sealed trait SchemaSpec
object SchemaSpec {
  /** Infer from the files themselves (ORC/Parquet footer inference,
    * reference ORCFile.java:181-236 — native in Spark).
    */
  case object Infer extends SchemaSpec
  /** Programmatic StructType (reference RCFile(String[],String[]) ctor). */
  final case class Explicit(schema: StructType) extends SchemaSpec
  /** Hive DDL string, e.g. "uid BIGINT, name STRING" (reference
    * HiveSchemaUtil.parse).
    */
  final case class Ddl(ddl: String) extends SchemaSpec
  /** Parallel name/type lists; missing types pad to string (reference
    * ColumnarSerDeSource.scala:31).
    */
  final case class NamesTypes(names: Seq[String], types: Seq[String]) extends SchemaSpec

  def resolve(spec: SchemaSpec): Option[StructType] = spec match {
    case Infer                 => None
    case Explicit(s)           => Some(s)
    case Ddl(d)                => Some(HiveDdl.parse(d))
    case NamesTypes(ns, ts)    => Some(HiveDdl.fromNamesAndTypes(ns, ts))
  }
}

/** A path-addressed table in one of the engine's file formats. The reference's
  * Tap surface (SURVEY.md §2 A1-A8, A20-A21) collapses to
  * DataFrameReader/Writer; these case classes are the typed Scala wrappers
  * playing the role of the reference's Scalding sources
  * (com/twitter/scalding/ColumnarSerDeSource.scala:18-68).
  */
sealed trait FileTable {
  def path: String
  def schema: SchemaSpec
  def format: String
  def readOptions: Map[String, String] = Map.empty

  /** Columns to read, or Nil for all — the user surface of projection
    * pushdown (reference `selectedColIds`, RCFile.java:136-141). Catalyst
    * column pruning pushes the `select` into the file scan's requiredSchema,
    * so non-selected columns are never decoded — same I/O reduction, no
    * engine code.
    */
  def selectedCols: Seq[String] = Nil

  def read(spark: SparkSession): DataFrame = {
    val r0 = spark.read.format(format).options(readOptions)
    val r  = SchemaSpec.resolve(schema).fold(r0)(r0.schema)
    val df = r.load(path)
    if (selectedCols.isEmpty) df else df.select(selectedCols.map(df.col): _*)
  }

  def write(df: DataFrame, mode: String = "overwrite",
            options: Map[String, String] = Map.empty): Unit =
    df.write.format(format).mode(mode).options(options).save(path)
}

final case class OrcTable(path: String, schema: SchemaSpec = SchemaSpec.Infer,
                          override val selectedCols: Seq[String] = Nil) extends FileTable {
  val format = "orc"
  /** Snappy-compressed, indexed write (reference A21 flow properties). */
  def writeCompressed(df: DataFrame): Unit =
    write(df, options = Map("compression" -> "snappy"))
}

final case class ParquetTable(path: String, schema: SchemaSpec = SchemaSpec.Infer,
                              override val selectedCols: Seq[String] = Nil) extends FileTable {
  val format = "parquet"
}

/** Delimited text (the reference's TextDelimited fixture format). */
final case class TextTable(path: String, schema: SchemaSpec,
                           delimiter: String = "\t", header: Boolean = false,
                           override val selectedCols: Seq[String] = Nil) extends FileTable {
  val format = "csv"
  override def readOptions: Map[String, String] =
    Map("sep" -> delimiter, "header" -> header.toString)
  override def write(df: DataFrame, mode: String = "overwrite",
                     options: Map[String, String] = Map.empty): Unit =
    df.write.format(format).mode(mode)
      .options(Map("sep" -> delimiter, "header" -> header.toString) ++ options)
      .save(path)
}

/** RCFile round-trip rides Spark's Hive support (`STORED AS RCFILE`): Spark
  * has no path-based RCFile reader, and the Hive-table route is the
  * reference-parity surface (SURVEY.md §2 A1/A2, §7.2 step 5). Requires a
  * Hive-enabled session (GraftSession.hiveBuilder).
  */
final case class RcFileHiveTable(table: String) {
  def create(spark: SparkSession, schema: StructType): Unit =
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $table (${schema.toDDL}) STORED AS RCFILE")

  def read(spark: SparkSession): DataFrame = spark.table(table)

  def append(df: DataFrame): Unit =
    df.write.mode("append").insertInto(table)
}
