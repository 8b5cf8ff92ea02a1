package org.apache.spark.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.SparkEntry
import graft.catalog.CatalogTable
import graft.io.{Compaction, OrcTable, ParquetTable, RcFileHiveTable}

import PerfBench._

/** A workload's fixed panel: whether it needs Hive, the input tables it
  * touches at start, and its operation groups.
  */
final case class Panel(hive: Boolean, tables: Seq[String], groups: Panels.Ctx => Seq[Group])

object Panels {

  /** `fingerprint(name, df)` checks a gallery query's output against the
    * stored fingerprint.
    */
  final case class Ctx(spark: SparkSession, data: String, work: Path,
                       fingerprint: (String, DataFrame) => Option[String]) {
    def table(t: String): String = s"$data/$t.parquet"
    def dir(name: String): String = work.resolve("io").resolve(name).toString
  }

  /** Gallery queries through the `noop` sink, one per kind of work:
    * q25_ngram_jaccard runs executor kernels (`llm`, `ops`, `expressions`)
    * with executor CPU over 20x its driver CPU; q340_markov_attribution is
    * a plan built on the driver by a 20-step fold of selects, where driver
    * CPU is about 3x executor CPU. The other 18 queries of the two families
    * are cut to fit the run budget (perfbench/NOTES.md).
    */
  val galleryQueries: Seq[String] = Seq("q25_ngram_jaccard", "q340_markov_attribution")

  def gallery(names: Seq[String], tables: Seq[String]): Panel = Panel(hive = false, tables, ctx =>
    names.map { n =>
      val fn = SparkEntry.queries(n)
      Seq(Op(n, Query, () => fn(ctx.spark, ctx.data), noop,
        df => ctx.fingerprint(n, df)))
    })

  val all: Map[String, Panel] = Map(
    "gallery" -> gallery(galleryQueries, Seq("documents", "events")),
    "hive_io" -> Panel(hive = true, Seq("lineitem"), HiveIo.groups))
}

/** The reference's own surface: Hive formats and catalog tables, written
  * and read back through `graft.io` and `graft.catalog`.
  */
object HiveIo {
  val Db = "perfbench"
  val ProjCols: Seq[String] = Seq("l_orderkey", "l_extendedprice")
  val Year = 1995
  val PartTable = "lineitem_by_year"
  val SmallFiles = 32

  /** Every call the panel makes, in panel order, with its kind. */
  val calls: Seq[(String, Kind)] = Seq("orc.write" -> Write, "orc.read" -> Read,
    "orc.read_proj" -> Read, "orc.read_agg" -> Read,
    "rcfile.create" -> Ddl, "rcfile.append" -> Write, "rcfile.read_proj" -> Read,
    "catalog.ddl" -> Ddl, "catalog.insert_by_name" -> Write, "catalog.read_pruned" -> Read,
    "compaction.small_files" -> Write, "compaction.compact" -> Write)

  /** Row count plus key and price checksums; prices as decimal so the sum
    * is exact in any order.
    */
  def checksum(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(col("l_orderkey")),
      sum(col("l_extendedprice").cast("decimal(18,2)"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Bytes on disk of each format's copy of the rows, per byte of the
    * compacted parquet copy of the same rows, and the file count of the
    * partitioned table; all zero for a panel that wrote nothing.
    */
  def footprint(spark: SparkSession, ctx: Panels.Ctx, warehouse: String): Seq[(String, Double)] = {
    def bytes(dir: String) =
      if (Files.exists(Paths.get(dir))) Compaction.dataBytes(spark, dir).toDouble else 0.0
    val parquet = bytes(ctx.dir("small_files"))
    def per(dir: String) = if (parquet > 0) bytes(dir) / parquet else 0.0
    val db = s"$warehouse/$Db.db"
    Seq("io.orc.bytes_per_parquet_byte" -> per(ctx.dir("orc")),
      "io.rcfile.bytes_per_parquet_byte" -> per(s"$db/lineitem_rc"),
      "catalog.bytes_per_parquet_byte" -> per(s"$db/$PartTable"),
      "catalog.table_files" -> (if (parquet > 0) Compaction.dataFileCount(spark, s"$db/$PartTable").toDouble else 0.0))
  }

  def same(what: String, got: String, want: String): Option[String] =
    if (got == want) None else Some(s"$what $got, expected $want")

  def groups(ctx: Panels.Ctx): Seq[Group] = {
    val spark = ctx.spark
    // RCFile's Hive serde takes TIMESTAMP, not the parquet's TIMESTAMP_NTZ.
    // Every eighth order's lines (75k of 600k rows) keeps a pass near 5 s.
    val source = () => spark.read.parquet(ctx.table("lineitem"))
      .filter(pmod(col("l_orderkey"), lit(8)) === 0)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withColumn("ship_year", year(col("l_shipdate")))
    val src = source()
    val schema = src.schema
    // The expected checksums, computed by the first check that needs them,
    // so their time counts as check time, not set-up.
    val yr = col("ship_year") === Year
    lazy val totals = src.agg(count(lit(1)), sum(col("l_orderkey")),
      sum(col("l_extendedprice").cast("decimal(18,2)")), count(when(yr, 1)),
      sum(when(yr, col("l_orderkey"))),
      sum(when(yr, col("l_extendedprice").cast("decimal(18,2)")))).head()
    lazy val want = s"${totals.get(0)}:${totals.get(1)}:${totals.get(2)}"
    lazy val wantYear = s"${totals.get(3)}:${totals.get(4)}:${totals.get(5)}"
    def aggregate(df: DataFrame): DataFrame = df.filter(col("l_discount") >= 0.05)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_extendedprice").cast("decimal(18,2)")).as("p"))
    lazy val wantAgg = aggregate(src).collect().map(_.toString).sorted.mkString(";")
    def aggCheck(df: DataFrame): Option[String] =
      same("aggregate", df.collect().map(_.toString).sorted.mkString(";"), wantAgg)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db")

    val orc = ctx.dir("orc")
    val small = ctx.dir("small_files")
    val rc = RcFileHiveTable(s"$Db.lineitem_rc")
    val part = CatalogTable(Db, PartTable)
    val ddl = (sql: Seq[String]) => () => { sql.foreach(spark.sql); spark.emptyDataFrame }
    val none = (_: DataFrame) => ()

    Seq(
      Seq(
        Op("orc.write", Write, source, df => OrcTable(orc).writeCompressed(df),
          _ => same("orc", checksum(spark.read.orc(orc)), want)),
        Op("orc.read", Read, () => OrcTable(orc).read(spark), noop,
          df => same("orc.read", checksum(df), want)),
        Op("orc.read_proj", Read, () => OrcTable(orc, selectedCols = ProjCols).read(spark),
          noop, df => same("orc.read_proj", checksum(df), want)),
        Op("orc.read_agg", Read, () => aggregate(OrcTable(orc).read(spark)),
          df => { df.collect(); () }, aggCheck)),
      Seq(
        Op("rcfile.create", Ddl, () => {
          spark.sql(s"DROP TABLE IF EXISTS ${rc.table}")
          rc.create(spark, schema)
          spark.emptyDataFrame
        }, none),
        Op("rcfile.append", Write, source, df => rc.append(df),
          _ => same("rcfile", checksum(rc.read(spark)), want)),
        Op("rcfile.read_proj", Read, () => rc.read(spark).select(ProjCols.map(col): _*),
          noop, df => same("rcfile.read_proj", checksum(df), want))),
      Seq(
        Op("catalog.ddl", Ddl, ddl(Seq(
          s"DROP TABLE IF EXISTS ${part.qualified}",
          s"CREATE TABLE ${part.qualified} (${schema.toDDL}) USING orc PARTITIONED BY (ship_year)")),
          none),
        Op("catalog.insert_by_name", Write, source, df => part.insertByName(df),
          _ => same("catalog", checksum(part.read(spark)), want)),
        Op("catalog.read_pruned", Read,
          () => part.read(spark, Some(s"ship_year = $Year")), noop,
          df => same("catalog.read_pruned", checksum(df), wantYear))),
      Seq(
        Op("compaction.small_files", Write, () => source().repartition(SmallFiles),
          df => ParquetTable(small).write(df),
          _ => same("small files", Compaction.dataFileCount(spark, small).toString, SmallFiles.toString)),
        Op("compaction.compact", Write, () => spark.emptyDataFrame, _ => {
          val files = Compaction.compact(spark, small, "parquet",
            targetBytes = Compaction.dataBytes(spark, small) / 2 + 1)
          require(files == 2, s"compacted into $files files, expected 2")
        }, _ => same("compacted", checksum(spark.read.parquet(small)), want)))
    )
  }
}

/** Order-insensitive fingerprint of a frame: row count plus the sum of a
  * per-row xxhash64. Doubles are rounded to 6 places first (the gallery
  * rounds every double it returns, and this absorbs summation-order bits)
  * and -0.0 is folded into 0.0.
  */
object Fingerprint {
  def of(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val r = renamed.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), 6) + lit(0.0)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast("double"), 6) + lit(0.0))
    case _ => c
  }

  /** Reads the flat `"name": "fingerprint"` object stored with the
    * benchmark.
    */
  def load(path: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap
}
