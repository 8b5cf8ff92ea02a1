package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANALYZE-style table profiling: one long-format row per column —
  * (column, n_rows, n_nulls, n_distinct, min_val, max_val). All columns are
  * profiled in a SINGLE aggregate pass over the table (Catalyst expands the
  * multi-countDistinct, so the scan happens once), then the one wide row is
  * unpivoted. min/max are cast to string after aggregating on the native
  * type, so ordering semantics stay the column's own.
  *
  * `approxDistinct` swaps exact countDistinct for HLL
  * approx_count_distinct — at 100 TB the exact variant's expand+shuffle is
  * proportional to distinct values per column, the HLL one is constant
  * state per column; exact is the default because the oracle compares it.
  */
object Profile {

  def summarize(df: DataFrame, cols: Seq[String],
                approxDistinct: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        (if (approxDistinct) approx_count_distinct(col(c))
         else countDistinct(col(c))).as(s"__nd_$c"),
        count(col(c)).as(s"__nc_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(cols.map { c =>
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nc_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_val"),
        col(s"__mx_$c").as("max_val"))
    }: _*)).as("p")).select(col("p.*"))
  }

  /** Equi-width histogram of a numeric column: `nBuckets` buckets spanning
    * [min, max], values AT max land in the last bucket. Two aggregate
    * passes (the 1-row min/max relation broadcasts back — no driver
    * action); bucketing itself is a map-side expression, so the second
    * pass shuffles nBuckets partial rows per task, nothing more. Empty
    * buckets are materialized with n = 0 so the output shape is fixed.
    */
  def histogram(df: DataFrame, c: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val spark = df.sparkSession
    val stats = df.agg(min(col(c)).cast("double").as("__lo"),
      max(col(c)).cast("double").as("__hi"))
    val counts = df.select(col(c).cast("double").as("__x"))
      .filter(col("__x").isNotNull)
      .crossJoin(broadcast(stats))
      .select(least(lit(nBuckets - 1L), floor(
        (col("__x") - col("__lo")) /
          when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise(col("__hi") - col("__lo")) * nBuckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    spark.range(nBuckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(stats))
      .select(col("bucket"),
        (col("__lo") + col("bucket") * (col("__hi") - col("__lo")) /
          nBuckets).as("lo"),
        (col("__lo") + (col("bucket") + 1) * (col("__hi") - col("__lo")) /
          nBuckets).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Join-cardinality statistics WITHOUT running the join — the planning
    * number that decides broadcast vs shuffle vs pre-aggregation, and the
    * skew audit (max_per_key / avg_per_key) that predicts a hot task. The
    * exact figure is sum over common keys of cntA * cntB, computed from
    * the two per-key count tables (each a partial-agg'd shuffle of 16-byte
    * rows — never the payloads). est_join_rows is the same sum over the
    * deterministic 1-in-`sampleMod` keyHash key sample, scaled back up:
    * the constant-memory path when even the count tables are huge (both
    * figures come from ONE aggregate over the joined counts). Counts are
    * longs; at extreme scale sum(cntA*cntB) wants decimal(38,0) — the
    * fixture-ranged long keeps output types engine-comparable.
    */
  def joinSizeStats(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                    sampleMod: Int = 8): DataFrame = {
    require(sampleMod >= 1)
    val ca = a.groupBy(col(aKey).as("key")).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(col(bKey).as("key")).agg(count(lit(1)).as("__cb"))
    ca.join(cb, Seq("key"))
      .select(col("key"), (col("__ca") * col("__cb")).as("__p"))
      .agg(
        count(lit(1)).as("n_common_keys"),
        sum(col("__p")).as("join_rows"),
        (sum(when(pmod(Sampling.keyHash(col("key")), lit(sampleMod)) === 0,
          col("__p")).otherwise(0L)) * sampleMod).as("est_join_rows"),
        max(col("__p")).as("max_per_key"),
        round(avg(col("__p")), 6).as("avg_per_key"))
  }

  /** Equi-DEPTH histogram: bucket edges at exact quantiles so every
    * bucket holds ~n/nBuckets rows — the complement of [[histogram]]'s
    * equi-width bins (equal-mass bins expose distribution shape where
    * equi-width ones collapse into one hot bucket under skew). Edges come
    * from [[PrefixSum.groupedExactPercentiles]] over one constant group —
    * bit-identical to the builtin percentile's interpolation, but every
    * task bounded by the range-partition size, so this op is safe on
    * CONTINUOUS domains (prices, scores) where the builtin's value→count
    * buffer is a single-task memory bomb; an op can't know its caller's
    * domain, so it must not assume a discrete one. The grouped form is
    * chosen over [[PrefixSum.exactPercentiles]] deliberately: it is fully
    * DECLARATIVE (no driver reads), so this op stays LAZY — building the
    * DataFrame runs no jobs, the contract every plan-only consumer
    * (Plans, library composition) relies on. Edges broadcast
    * as one array, bin assignment is a strict-compare count against that
    * array (identical doubles on any engine — the same interpolation
    * parity as q44), then one partial-agg'd count pass. min/max per
    * bucket come along for free as the de-facto edge audit.
    */
  def equiDepthHistogram(df: DataFrame, c: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    val probs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val edgeCols = probs.indices.map(i => s"__e$i")
    val edges = PrefixSum.groupedExactPercentiles(
        df.select(lit(1).as("__g"), col(c)), "__g", col(c),
        probs, edgeCols)
      .select(array(edgeCols.map(col): _*).as("__edges"))
    df.filter(col(c).isNotNull).crossJoin(broadcast(edges))
      .withColumn("bucket",
        size(filter(col("__edges"), e => col(c) > e)).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(c)), 4).as("min_v"),
        round(max(col(c)), 4).as("max_v"))
  }

  /** Benford first-digit audit: per key, the distribution of leading
    * significant digits of `valCol` against Benford's law expectation
    * p(d) = log10(1 + 1/d), with the per-digit chi-squared contribution —
    * the classic fabricated-/synthetic-numbers screen for metric columns.
    * Only values >= 1 participate; the first digit comes from the integer
    * part rendered as a string (explicit floor -> string -> first char:
    * floor, because double->int CASTS round on some engines and truncate
    * on others), which is exact on any engine — a log10/pow extraction
    * can misround at powers of ten and flip the digit. All digits 1-9 materialize per key
    * (zero-count digits included, like histogram's empty buckets); counts
    * partial-aggregate, the digit grid is bounded and broadcast.
    */
  def benfordAudit(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val counts = df.filter(col(valCol) >= 1)
      .select(col(keyCol).as("key"),
        substring(floor(col(valCol)).cast("string"), 1, 1)
          .cast("long").as("digit"))
      .groupBy(col("key"), col("digit")).agg(count(lit(1)).as("n_d"))
    val totals = counts.groupBy(col("key")).agg(sum(col("n_d")).as("n"))
    val grid = totals.select(col("key"), col("n"),
      explode(sequence(lit(1L), lit(9L))).as("digit"))
    val p = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    grid.join(counts, Seq("key", "digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .select(col("key"), col("digit"), col("n_d"),
        round(col("n_d").cast("double") / col("n"), 6).as("obs_share"),
        round(p, 6).as("benford_p"),
        round(pow(col("n_d").cast("double") - col("n") * p, 2) /
          (col("n") * p), 6).as("chi2_term"))
  }

  /** Column-dependency profiling: mutual information between two
    * categorical columns, with marginal entropies and the normalized MI
    * (MI / sqrt(H_a * H_b), in [0,1]) — the "is `source` just `lang` in
    * disguise" redundancy audit over a schema. Everything reduces to the
    * partial-agg'd joint count table (|A| x |B| cells); both margins
    * re-aggregate it (no second scan) and join back broadcast, so data
    * rows shuffle exactly once regardless of table size. Null categories
    * count as their own level via the grouping keys. All figures rounded
    * to 6 dp.
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val joint = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val ma = joint.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val mb = joint.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    val tot = joint.agg(sum(col("n_ab")).as("n"))
    val cells = joint
      .join(broadcast(ma), Seq("a")).join(broadcast(mb), Seq("b"))
      .crossJoin(broadcast(tot))
    val pAb = col("n_ab").cast("double") / col("n")
    val pA = col("n_a").cast("double") / col("n")
    val pB = col("n_b").cast("double") / col("n")
    val hA = ma.crossJoin(broadcast(tot))
      .agg(-sum((col("n_a").cast("double") / col("n")) *
        log(col("n_a").cast("double") / col("n"))))
    val hB = mb.crossJoin(broadcast(tot))
      .agg(-sum((col("n_b").cast("double") / col("n")) *
        log(col("n_b").cast("double") / col("n"))))
    cells.agg(sum(pAb * log(pAb / (pA * pB))).as("mi"))
      .crossJoin(broadcast(hA.toDF("h_a"))).crossJoin(broadcast(hB.toDF("h_b")))
      .select(round(col("h_a"), 6).as("h_a"), round(col("h_b"), 6).as("h_b"),
        round(col("mi"), 6).as("mi"),
        round(col("mi") / sqrt(col("h_a") * col("h_b")), 6).as("nmi"))
  }
}
