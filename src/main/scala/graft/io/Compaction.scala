package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction: rewrite a table directory into right-sized files.
  *
  * At corpus scale, incremental ingestion (many small appends, one file per
  * task per partition) degrades every later scan: file-listing cost, footer
  * reads, and task scheduling all scale with FILE COUNT, not bytes. The fix
  * is periodic compaction — read, repartition to ceil(bytes / target), and
  * rewrite through a staging directory so a crashed compaction never leaves
  * the table half-written (the same write-then-swap discipline as
  * CatalogTable.writeAndRelocate).
  */
object Compaction {

  /** Lengths of the data files under `dir`, listed recursively. Names
    * starting with `_` or `.` are Hadoop temp/hidden files (reference
    * ORCFile.java:85-90; Spark's InMemoryFileIndex skips them too).
    */
  private def dataFileLengths(spark: SparkSession, dir: String): Seq[Long] = {
    val p  = new Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val out = Seq.newBuilder[Long]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) out += f.getLen
    }
    out.result()
  }

  /** Total bytes of data files under `dir` (ignores _ and . hidden files). */
  def dataBytes(spark: SparkSession, dir: String): Long =
    dataFileLengths(spark, dir).sum

  /** Number of data files under `dir`. */
  def dataFileCount(spark: SparkSession, dir: String): Int =
    dataFileLengths(spark, dir).size

  /** Rewrite `dir` (a `format` table directory) into
    * ceil(bytes / targetBytes) files via a staging directory + atomic-ish
    * swap. Returns the resulting file count.
    */
  def compact(spark: SparkSession, dir: String, format: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = dataBytes(spark, dir)
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staging = s"$dir.__compact_staging"
    spark.read.format(format).load(dir)
      .repartition(nFiles)
      .write.format(format).mode("overwrite").save(staging)
    val p  = new Path(dir)
    val st = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"$dir.__compact_old")
    if (fs.exists(old)) fs.delete(old, true)
    // swap: current -> old, staging -> current, drop old. The window where
    // `dir` is absent is two renames; a reader retry covers it (a true
    // atomic swap needs a metastore SET LOCATION — see CatalogTable).
    if (!fs.rename(p, old)) throw new java.io.IOException(s"rename $dir -> $old failed")
    if (!fs.rename(st, p)) {
      fs.rename(old, p) // restore
      throw new java.io.IOException(s"rename $staging -> $dir failed")
    }
    fs.delete(old, true)
    dataFileCount(spark, dir)
  }
}
