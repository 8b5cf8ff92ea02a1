package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Scan-integrated regex file exclusion (SURVEY.md §2 A13,
  * `hive-tap.path.partition.file.ignore-regex`,
  * reference CascadingHCatUtil.java:114-138).
  *
  * Listing on the driver and passing explicit paths to the reader would be
  * wrong at warehouse scale (a million-file table means a million-path plan
  * and a single-threaded listing). The listing stays inside Spark's own
  * `InMemoryFileIndex` (parallelized via a listing job over many dirs,
  * cached, refreshable) and the exclusion is a [[FileIndex]] decorator, so
  * partition pruning, filter pushdown, and size estimation all see the
  * already-filtered file set.
  */
final class RegexExcludingFileIndex(underlying: FileIndex, ignoreRegex: String)
    extends FileIndex {
  private val pattern = ignoreRegex.r

  private def keep(f: FileStatusWithMetadata): Boolean =
    pattern.findFirstIn(f.getPath.toString).isEmpty

  override def rootPaths: Seq[Path] = underlying.rootPaths

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)
      .map(pd => PartitionDirectory(pd.values, pd.files.filter(keep)))

  override def inputFiles: Array[String] =
    underlying.inputFiles.filter(p => pattern.findFirstIn(p).isEmpty)

  override def refresh(): Unit = underlying.refresh()

  // a pre-filter estimate is acceptable: exclusion targets stray/temp files,
  // and the estimate only steers join-strategy choice
  override def sizeInBytes: Long = underlying.sizeInBytes

  override def partitionSchema: StructType = underlying.partitionSchema
}

object RegexExcludingFileIndex {

  /** Read `dir` as `format` with files matching `ignoreRegex` excluded at
    * the FileIndex layer. The schema is inferred from the NON-excluded
    * files only (an excluded stray file with a divergent schema must not
    * poison inference).
    */
  def read(spark: SparkSession, dir: String, format: String,
           ignoreRegex: String): DataFrame = {
    // recursive: the reference lists a partition directory's files
    // recursively (partition columns come from the metastore there, not
    // from dir names)
    val listOpts = Map("recursiveFileLookup" -> "true")
    val base = new InMemoryFileIndex(spark, Seq(new Path(dir)), listOpts, None)
    val index = new RegexExcludingFileIndex(base, ignoreRegex)
    val fileFormat = format match {
      case "parquet" =>
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      case "orc" =>
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
      case "csv" =>
        new org.apache.spark.sql.execution.datasources.csv.CSVFileFormat()
      case "json" =>
        new org.apache.spark.sql.execution.datasources.json.JsonFileFormat()
      case other =>
        throw new IllegalArgumentException(s"unsupported format for indexed exclusion: $other")
    }
    val pattern = ignoreRegex.r
    val kept = base.allFiles()
      .filter(f => pattern.findFirstIn(f.getPath.toString).isEmpty)
    val dataSchema = fileFormat.inferSchema(spark, listOpts, kept)
      .getOrElse(throw new IllegalArgumentException(
        s"no schema: nothing inferable under $dir after exclusion '$ignoreRegex'"))
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = fileFormat,
      options = listOpts)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}
