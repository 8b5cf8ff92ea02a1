package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for correctness parity with a DuckDB oracle (UTC session time zone)
  * and for large-scale execution: shuffle partitions sized to the local core
  * count rather than the 200 default (on a real cluster this would be ~2-3x
  * total cores / set by AQE advisory size). AQE with shuffle coalescing and
  * skew-join splitting, runtime bloom filters, the vectorized ORC reader and
  * parquet filter pushdown are Spark's own defaults, so they are not restated
  * here (`GraftSessionSpec` fails if a Spark upgrade turns one off).
  *
  * The launcher wins: each default applies only when the JVM was not started
  * with that key as a system property, which is how `spark-submit --conf k=v`
  * and `--master` reach the driver (and `java -Dk=v` for a plain launch). So
  * `--conf spark.sql.shuffle.partitions=16` or `--master spark://...` take
  * effect in every main unchanged; the `master` argument of [[builder]] is
  * only the fallback for a direct `sbt runMain`.
  */
object GraftSession {

  /** Default shuffle partition count for local mode. */
  def defaultShufflePartitions: Int =
    math.max(Runtime.getRuntime.availableProcessors(), 4)

  private val LocalN = """local\[(\d+)\]""".r

  /** The settings [[builder]] applies for `master` when the launcher set the
    * system properties `props`: the engine default of each key, or the
    * launcher's value where `props` has that key. Shuffle partitions default
    * to the `n` of a `local[n]` master, else [[defaultShufflePartitions]].
    */
  private[graft] def settings(master: String,
                              props: collection.Map[String, String]): Seq[(String, String)] = {
    val m = props.getOrElse("spark.master", master)
    val shuffle = m match {
      case LocalN(n) => n
      case _ => defaultShufflePartitions.toString
    }
    Seq(
      "spark.master" -> m,
      "spark.sql.shuffle.partitions" -> shuffle,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // deletes reliable checkpoint files once their frame is unreachable
      // (spark.graft.reliableMaterialize); local checkpoints are unaffected
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      // Spark's cache of generated classes (default 100): a warm pass that
      // needs more compiles its classes again on every pass. The largest
      // warm working sets measured are about 131 classes (the perfbench
      // gallery pass; q116 or q334 alone in a Bench repeat); Spark splits
      // the cache into 4 LRU segments, so 500 holds one such set about 4
      // times over (README). Static: read once per JVM, at its first codegen.
      "spark.sql.codegen.cache.maxEntries" -> "500"
    ).map { case (k, v) => k -> props.getOrElse(k, v) }
  }

  /** Core count for the mains' `local[n]` master: `SPARK_GRAFT_CPUS` when
    * set, else `default`. Fails with a message naming the variable instead
    * of a bare NumberFormatException or a malformed master string.
    */
  def envCpus(default: Int): Int =
    positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** `raw` (an env var or argument called `name`) as a positive Int, or
    * `default` when absent; anything else fails naming `name`.
    */
  private[graft] def positiveInt(name: String, raw: Option[String],
                                 default: Int): Int =
    parsed(name, raw, default, "a positive integer")(_.toIntOption.filter(_ > 0))

  /** `raw` as any Long (negative included), or `default` when absent. */
  private[graft] def long(name: String, raw: Option[String], default: Long): Long =
    parsed(name, raw, default, "an integer")(_.toLongOption)

  private def parsed[T](name: String, raw: Option[String], default: T,
                        what: String)(parse: String => Option[T]): T =
    raw match {
      case None => default
      case Some(v) => parse(v.trim).getOrElse(
        throw new IllegalArgumentException(s"$name must be $what, got '$v'"))
    }

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    settings(master, sys.props).foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Hive-metastore-backed builder (catalog layer, RCFile tables). The Derby
    * metastore lives next to the warehouse so each warehouse is a fully
    * isolated catalog (a cwd-relative metastore_db would leak state across
    * JVMs and record stale database locations).
    */
  def hiveBuilder(master: String, appName: String,
                  warehouseDir: String): SparkSession.Builder =
    builder(master, appName)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouseDir/metastore_db;create=true")
      .config("spark.sql.hive.metastorePartitionPruning", "true")
      .enableHiveSupport()

  /** Per-query teardown for the 600-query driver loops (Bench/Verify/
    * audits): drops the SQL cache AND every RDD-level persisted block.
    * `clearCache()` alone misses `localCheckpoint` blocks (they register
    * with the BlockManager, not the CacheManager), so a long sweep
    * accumulates dead checkpoint blocks until memory pressure taxes later
    * queries with eviction/GC churn (r9: q541 read 10x its CPU late in the
    * run). Unpersisting a truncated checkpoint is safe exactly because
    * this runs BETWEEN queries — nothing references the previous query's
    * plan afterwards. Never call mid-query.
    */
  def dropQueryState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }
}
