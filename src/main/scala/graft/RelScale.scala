package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational scale-up generator: replicates the scale-GROWING TPC-H-side
  * tables (`customer supplier part orders lineitem`) `factor`-ways with
  * per-replica key offsets, producing a directory with the exact layout the
  * engine's table reader expects — so every SparkEntry query, Bench, and
  * WindowAudit run UNCHANGED against a corpus `factor`× the stock sf0.1.
  *
  * Offsets keep referential integrity: replica r of every table shifts each
  * join key k by `r * (max(k over the base table) + 1)`, with the SAME step
  * used on both sides of each foreign key (l_orderkey ↔ o_orderkey,
  * o_custkey ↔ c_custkey, l_partkey ↔ p_partkey, l_suppkey ↔ s_suppkey).
  * The scaled dataset is therefore `factor` disjoint copies of the base:
  * per-key join and group results replicate exactly `factor`×, and global
  * key-group cardinalities grow `factor`×.
  *
  * Fixture-fidelity measures (round 7 — the r6 growth sweeps paid two
  * measured artifact taxes that made every reading harder to adjudicate,
  * BENCH_NOTES_r6 §7 effects 1 and 3):
  *
  *   1. VALUE ENTROPY: replicas r >= 1 jitter the continuous value columns
  *      (balances/prices ±0.99 on the cent grid, dates ±3 days) with a
  *      deterministic [[graft.ops.Sampling.keyHash]] of (row key, replica,
  *      column) — so value-keyed cells stop densifying `factor`× faster
  *      than a true larger sf would (the q425 fixed-eps artifact), while
  *      domains stay on their real grids (cents stay cents, dates stay
  *      calendar days) and replica 0 stays byte-identical to the base.
  *      Growth runs never oracle-compare, so jitter can't break parity —
  *      it only makes the growth curve honest.
  *   2. LAYOUT: replicas are written range-partitioned AND sorted by the
  *      table's primary key instead of `repartition(n)`'s random shuffle —
  *      restoring the dictionary/RLE runs a real generator's key-ordered
  *      output has. The r6 sweeps measured the shuffled layout decoding
  *      1.2-6x slower PER ROW (flat across factors, i.e. a fixture
  *      constant, but one that inflated every per-row CPU reading).
  *
  * Static tables (`region nation`) and the non-relational corpora
  * (`events documents embeddings` — already covered by graft.Stress at
  * 100–500×) are copied as-is so the full Bench warmup and any
  * mixed-family query still resolve.
  *
  * Why this exists: every scale probe before round 6 targeted the LLM-ops
  * families (dedup/ANN/graph/streaming at 100–500×); the relational core's
  * 100 TB evidence was plan-shape auditing at sf0.01/sf0.1 only. This
  * generator turns "the 47 planner-chosen broadcasts flip to shuffle joins
  * at scale, and the relational plans are linear in sf" from an assertion
  * into a measured growth curve (BENCH_NOTES_r6 §7, refreshed r7).
  *
  * Usage: runMain graft.RelScale <srcSfDir> <outDir> <factor>
  */
object RelScale {

  /** (table, key column -> step-source table) for the growing tables.
    * Steps are derived from the BASE table that owns the key, so both
    * sides of each FK shift identically.
    */
  private val keyOwners: Map[String, String] = Map(
    "o_orderkey" -> "orders", "l_orderkey" -> "orders",
    "c_custkey" -> "customer", "o_custkey" -> "customer",
    "p_partkey" -> "part", "l_partkey" -> "part",
    "s_suppkey" -> "supplier", "l_suppkey" -> "supplier")

  private val growing = Seq("customer", "supplier", "part", "orders", "lineitem")
  private val copied  = Seq("region", "nation", "events", "documents", "embeddings")

  /** Primary sort keys per table — the write order that restores the
    * key-ordered dictionary/RLE runs of a real generator's output.
    */
  private val sortKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** Continuous value columns jittered ±0.99 on the cent grid. Bounded
    * grids with realistic repeat rates (l_quantity 1..50, l_discount/
    * l_tax percent steps, flags, names) stay as-is — a true larger sf
    * repeats those too.
    */
  private val centJitter = Set("c_acctbal", "s_acctbal", "p_retailprice",
    "o_totalprice", "l_extendedprice")

  /** Date/timestamp columns jittered ±3 whole days (stays on the calendar
    * grid; order/ship lags can shift a few days, like real data).
    */
  private val dayJitter = Set("o_orderdate", "l_shipdate")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/relscale-f10")
    val factor = GraftSession.positiveInt("factor", args.lift(2), 10)
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.builder(s"local[$cpus]", "graft-relscale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def base(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")

    // one step per key-owning table: max(ownKey) + 1 over the base
    val steps: Map[String, Long] = Map(
      "orders" -> "o_orderkey", "customer" -> "c_custkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey").map {
      case (t, k) => t -> (base(t).agg(max(col(k))).head().getLong(0) + 1L)
    }

    growing.foreach { t =>
      val b = base(t)
      val reps = spark.range(factor).select(col("id").as("__rep"))
      // per-row jitter seed: primary key x replica x column index — the
      // portable keyHash, so re-runs and engines agree byte-for-byte
      val rowKey = sortKeys(t).map(c => col(c).cast("long"))
        .reduce((a, b) => a * lit(8L) + b)
      def jitterHash(colIdx: Int): Column = graft.ops.Sampling.keyHash(
        rowKey * lit(131L) + col("__rep") * lit(7919L) +
          lit(colIdx.toLong * 104729L))
      val scaled = b.crossJoin(reps).select(b.columns.zipWithIndex.map {
        case (c, i) =>
          keyOwners.get(c) match {
            case Some(owner) =>
              (col(c) + col("__rep") * lit(steps(owner))).as(c)
            case None if centJitter.contains(c) =>
              // ±0.99 on the cent grid; replica 0 byte-identical to base.
              // Jitter in INTEGER cents and divide once, so every jittered
              // value is the canonical double of an exact cent — double
              // arithmetic (col + delta/100.0) lands only ~151 of 199
              // offsets on the canonical grid doubles, creating off-grid
              // distinct values that inflate the very saturation curves
              // DomainAudit gates the cent-grid declarations on.
              when(col("__rep") === 0, col(c)).otherwise(
                (round(col(c) * 100) +
                  (pmod(jitterHash(i), lit(199L)) - lit(99L)))
                  .cast("long").cast("double") / lit(100.0)).as(c)
            case None if dayJitter.contains(c) =>
              when(col("__rep") === 0, col(c)).otherwise(col(c) +
                make_dt_interval(days =
                  (pmod(jitterHash(i), lit(7L)) - lit(3L)).cast("int"))).as(c)
            case None => col(c)
          }
      }.toIndexedSeq: _*)
      // enough write partitions that the scaled fact tables read back
      // parallel (the base files are single driver-written parquet files);
      // range-partitioned + sorted on the primary key so the written
      // files keep generator-like dictionary/RLE runs
      val parts = math.max(4, math.min(64, factor * 2))
      val order = sortKeys(t).map(col)
      scaled.repartitionByRange(parts, order: _*)
        .sortWithinPartitions(order: _*)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[relscale] $t x$factor -> ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    copied.foreach { t =>
      base(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[relscale] $t copied")
    }
    spark.stop()
  }
}
