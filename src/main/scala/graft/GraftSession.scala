package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for correctness parity with a DuckDB oracle (UTC session time zone)
  * and for large-scale execution: AQE on (runtime shuffle coalescing, skew-join
  * splitting), shuffle partitions sized to the local core count rather than the
  * 200 default (on a real cluster this would be ~2-3x total cores / set by AQE
  * advisory size).
  */
object GraftSession {

  /** Default shuffle partition count for local mode. */
  def defaultShufflePartitions: Int =
    math.max(Runtime.getRuntime.availableProcessors(), 4)

  /** Master actually used: an externally supplied one wins. spark-submit
    * injects `--master` as the `spark.master` system property; honoring it
    * here lets the same mains (Verify/Bench/Stress) run unchanged under
    * cluster submission — the in-process `local[n]` argument is only the
    * fallback for direct `sbt runMain` invocation.
    */
  def resolveMaster(fallback: String): String =
    sys.props.getOrElse("spark.master", fallback)

  /** Core count for the mains' `local[n]` master: `SPARK_GRAFT_CPUS` when
    * set, else `default`. Fails with a message naming the variable instead
    * of a bare NumberFormatException or a malformed master string.
    */
  def envCpus(default: Int): Int =
    positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def positiveInt(name: String, raw: Option[String],
                                 default: Int): Int = raw match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$name must be a positive integer, got '$v'"))
  }

  def builder(master: String = "local[*]", appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(resolveMaster(master))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", defaultShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime bloom-filter pruning: big-join probe sides get filtered by a
      // bloom built from the build side — free I/O reduction at scale
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.orc.enableVectorizedReader", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      // deletes reliable checkpoint files once their frame is unreachable
      // (spark.graft.reliableMaterialize); local checkpoints are unaffected
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  def local(cores: Int = 0, appName: String = "graft"): SparkSession = {
    val m = if (cores <= 0) "local[*]" else s"local[$cores]"
    val s = builder(m, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
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

  def localHive(warehouseDir: String, appName: String = "graft-hive"): SparkSession = {
    val s = hiveBuilder("local[*]", appName, warehouseDir).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

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
