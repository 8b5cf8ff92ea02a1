package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Metastore-backed table access (SURVEY.md §2 A10-A16, A22).
  *
  * The reference resolves a table name through the Hive metastore into
  * per-partition taps (HCatTap.java:53-129); in Spark the catalog scan does
  * that natively, so this layer only adds the behaviors Spark lacks:
  *   - partition-filter *strings* (grammar from HCatTap.java:79-85) via
  *     [[PartitionFilter]];
  *   - by-name column alignment with null-fill on insert
  *     (DefaultHCatScheme.java:120-149 — Spark's insertInto is positional);
  *   - commit-time `ALTER TABLE SET LOCATION` (HCatTap.java:184-195);
  *   - regex-based partition-file exclusion (CascadingHCatUtil.java:114-138 —
  *     Spark's pathGlobFilter is glob-only), in
  *     [[graft.io.RegexExcludingFileIndex]].
  */
final case class CatalogTable(db: String, table: String) {

  def qualified: String = s"$db.$table"

  /** Stable identifier for logging/dedup (reference HCatTap.getIdentifier,
    * HCatTap.java:110-120).
    */
  def identifier(filter: Option[String] = None): String =
    s"hcatalog://$qualified" + filter.fold("")(f => s"?filter=$f")

  /** Catalog-resolved scan, optionally partition-pruned by a filter string.
    * The resulting predicate is pushed to partition pruning by Catalyst
    * (PruneFileSourcePartitions / metastorePartitionPruning), so unmatched
    * partition directories are never listed or opened — the reference's
    * listPartitionsByFilter effect.
    */
  def read(spark: SparkSession, filter: Option[String] = None): DataFrame = {
    val df = spark.table(qualified)
    filter.fold(df)(f => df.filter(PartitionFilter.parse(f)))
  }

  /** Insert with by-name alignment to the target table schema: tuple fields
    * matched by name, missing table columns null-filled, extra input columns
    * dropped (reference A15, DefaultHCatScheme.java:120-149). Spark's
    * insertInto is positional, so the alignment happens here.
    */
  def insertByName(df: DataFrame, overwrite: Boolean = false): Unit = {
    val spark  = df.sparkSession
    val target = spark.table(qualified).schema
    val have   = df.columns.map(c => c.toLowerCase -> c).toMap
    val aligned = df.select(target.map { f =>
      have.get(f.name.toLowerCase) match {
        case Some(c) => col(c).cast(f.dataType).as(f.name)
        case None    => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
    aligned.write.mode(if (overwrite) "overwrite" else "append").insertInto(qualified)
  }

  /** Commit-time relocation: repoint the table at a new path after a
    * successful external write (reference A16,
    * CascadingHCatUtil.setDataStorageLocation:149-176).
    */
  def setLocation(spark: SparkSession, path: String): Unit = {
    spark.sql(s"ALTER TABLE $qualified SET LOCATION '$path'")
    spark.sql(s"REFRESH TABLE $qualified")
  }

  /** Write to an explicit path, then commit-relocate the table to it —
    * the reference's HCatTap explicit-path sink flow (HCatTap.java:131-145).
    */
  def writeAndRelocate(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val fmt = spark.sql(s"DESCRIBE FORMATTED $qualified")
      .collect()
      .collectFirst {
        case r if r.getString(0).trim.startsWith("InputFormat") &&
          r.getString(1).contains("Orc") => "orc"
        case r if r.getString(0).trim.startsWith("InputFormat") &&
          r.getString(1).contains("Parquet") => "parquet"
      }
      .getOrElse(throw new IllegalArgumentException(
        s"writeAndRelocate: $qualified has an InputFormat this path can't " +
          "write (not ORC/Parquet) — writing a different format and " +
          "repointing the table would break subsequent reads; use " +
          "insertByName for RCFile/text tables"))
    df.write.mode("overwrite").format(fmt).save(path)
    setLocation(spark, path)
  }
}
