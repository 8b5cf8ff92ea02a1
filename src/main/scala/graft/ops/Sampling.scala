package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, key-stable sampling for corpus subsetting.
  *
  * `df.sample()` is seed-dependent per partitioning and not reproducible
  * across runs/layouts; training-data pipelines need the property "the same
  * document is always in (or out of) the sample, regardless of cluster
  * layout, today and next month". These operators derive the decision from
  * a multiplicative integer hash of a stable key — reproducible anywhere,
  * including in a SQL oracle.
  */
object Sampling {

  /** Knuth multiplicative hash of a long key into [0, 2^32), overflow-free
    * for the FULL long range (keys up to +-2^63): the key's high and low
    * 32-bit halves are folded with xor, then the multiply is split so no
    * intermediate exceeds 2^49. Spelled in plain integer arithmetic so any
    * engine (Spark ANSI, DuckDB) computes the identical value; for keys in
    * [0, 2^32) it equals the classic `(key * 2654435761) mod 2^32`.
    */
  def keyHash(key: Column): Column = {
    val k64    = key.cast("long")
    val folded = k64.bitwiseAND(lit(4294967295L))
      .bitwiseXOR(shiftright(k64, 32).bitwiseAND(lit(4294967295L)))
    val hi = shiftright(folded, 16)
    val lo = folded.bitwiseAND(lit(65535L))
    pmod(pmod(hi * lit(2654435761L), lit(4294967296L)) * lit(65536L) +
      lo * lit(2654435761L), lit(4294967296L))
  }

  /** The same hash as a SQL fragment over key expression `k` — the oracle
    * side of [[keyHash]] (DuckDB dialect: xor() function, arithmetic >>).
    */
  def keyHashSql(k: String): String =
    s"(((xor($k & 4294967295, ($k >> 32) & 4294967295) >> 16) * 2654435761) % 4294967296 * 65536" +
      s" + (xor($k & 4294967295, ($k >> 32) & 4294967295) & 65535) * 2654435761) % 4294967296"

  /** Keep ~`percent`% of rows, decided per key: stable under repartition,
    * re-run, and engine change.
    */
  def sampleByKey(df: DataFrame, keyCol: String, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100)
    df.filter(pmod(keyHash(col(keyCol)), lit(100)) < percent)
  }

  /** At most `n` rows per stratum, chosen deterministically by key hash
    * (ties broken by the key itself). One shuffle on the stratum column.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(keyHash(col(keyCol)), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic dataset split (train/val/test and the like): adds
    * `outCol` holding the index of the split this row's key falls into,
    * with `percents` summing to at most 100 (rows beyond the sum get index
    * -1 — a holdout). Same key -> same split, on any engine or layout; a
    * narrow per-row expression, no shuffle.
    */
  def splitByKey(df: DataFrame, keyCol: String, percents: Seq[Int],
                 outCol: String = "split"): DataFrame = {
    require(percents.nonEmpty && percents.forall(_ >= 0) && percents.sum <= 100,
      "percents must be non-negative and sum to <= 100")
    val bucket = pmod(keyHash(col(keyCol)), lit(100))
    val bounds = percents.scanLeft(0)(_ + _) // exclusive upper bounds
    val expr = percents.indices.foldRight(lit(-1): Column) { (i, rest) =>
      when(bucket < bounds(i + 1), i).otherwise(rest)
    }
    df.withColumn(outCol, expr.cast("int"))
  }

  /** Per-group mixture sampling: keep `percents(group)`% of each group's
    * rows (groups absent from the map keep `defaultPercent`%), decided per
    * key — the deterministic form of "mix sources at these rates".
    */
  /** Temperature-scaled mixture percents (the multilingual data-balancing
    * rule): group share p_g = n_g/N flattens to w_g = p_g^(1/tau), target
    * share q_g = w_g / sum(w), keep-percent r_g = min(100,
    * round(100 * q_g * N / n_g)). tau=1 reproduces the natural
    * distribution (100% everywhere); larger tau downsamples head groups
    * toward uniform while tail groups stay at 100%. One tiny count
    * aggregate + driver math over |groups| values; feed the result to
    * [[mixtureSample]]. tau=2 computes sqrt explicitly — IEEE sqrt is
    * correctly rounded in both the JVM and libm, so the DuckDB oracle's
    * rates agree bitwise (general pow is not that safe).
    */
  def temperaturePercents(df: DataFrame, groupCol: String,
                          tau: Double): Map[String, Int] = {
    require(tau > 0, "tau must be positive")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toSeq.sortBy(_._1)
    val total = counts.map(_._2).sum.toDouble
    val w = counts.map { case (g, n) =>
      val p = n / total
      g -> (if (tau == 2.0) math.sqrt(p) else math.pow(p, 1.0 / tau))
    }
    val sw = w.map(_._2).sum
    counts.zip(w).map { case ((g, n), (_, wg)) =>
      g -> math.min(100L, math.round(100.0 * (wg / sw) * total / n)).toInt
    }.toMap
  }

  /** Per-group quantile filtering — "keep each language's top 20% by
    * quality", the standard corpus-curation cut. Exact rank semantics:
    * keep rows with percent_rank >= `p` under
    * (score asc, tie asc) within the group; percent_rank is the exact
    * rational (rank-1)/(n-1), so the cut is engine-independent (no float
    * threshold to straddle).
    *
    * Cost: one shuffle on the group column and a per-group sort — the
    * price of EXACT ranking.
    */
  def topQuantileByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                         tieCol: String, p: Double): DataFrame = {
    require(p >= 0 && p <= 1, "p must be in [0, 1]")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol), col(tieCol))
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") >= p)
      .drop("__pr")
  }

  /** Deterministic negative sampling for contrastive training pairs: for
    * each query key, `k` pseudo-random corpus rows that are stable across
    * runs, engines, and layouts (and exclude the query itself). Corpus
    * rows hash into `nBuckets` buckets; each query draws from ITS hash
    * bucket via an EQUI-join on the bucket id — never a query x corpus
    * cross product — and takes the k hash-smallest rows there (bounded
    * TopK aggregator, map-side partials). Choose nBuckets so
    * corpus/nBuckets comfortably exceeds k; at 100 TB the join shuffles
    * (bucket, id, hash) rows only.
    */
  def negativeSample(queries: DataFrame, queryKeyCol: String,
                     corpus: DataFrame, idCol: String, k: Int,
                     nBuckets: Int): DataFrame = {
    require(k >= 1 && nBuckets >= 1)
    val c = corpus.select(col(idCol).as("neg_id"),
        keyHash(col(idCol)).as("__h"))
      .withColumn("__b", pmod(col("__h"), lit(nBuckets.toLong)))
    val q = queries.select(col(queryKeyCol).as("query_id"),
      pmod(keyHash(col(queryKeyCol)), lit(nBuckets.toLong)).as("__b"))
    val j = q.join(c, Seq("__b")).filter(col("neg_id") =!= col("query_id"))
    TopK.perGroup(j.withColumn("__s", lit(0.0) - col("__h")),
        "query_id", "__s", "neg_id", "neg_id", k)
      .select(col("group").as("query_id"), col("tie").as("neg_id"),
        col("rank"))
  }

  /** EXACTLY `n` rows total (when the corpus has that many), allocated
    * across strata proportionally by the largest-remainder method and
    * drawn within each stratum in engine-portable [[keyHash]] order —
    * the deterministic "build a val set of exactly N docs matching the
    * corpus mix" op ([[stratifiedSample]] is per-stratum capped,
    * [[sampleByKey]] probabilistic; this one hits the total exactly).
    *
    * All-quota arithmetic is integer-exact: base quota n*cnt/total by
    * integer division, remainders ranked (desc, stratum asc) and the
    * leftover slots go to the top ranks — no float shares, so every
    * engine allocates identically. A stratum smaller than its quota
    * under-fills it (no reallocation) — callers wanting exact totals on
    * pathological mixes should size n below the smallest-safe bound.
    * Shape: one |strata|-row aggregate (windows run on that bounded
    * frame, not the corpus) broadcast-joined back, then one per-stratum
    * rank — a single corpus shuffle on the stratum key.
    */
  def exactStratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                            n: Long): DataFrame = {
    require(n >= 0, "n must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__cnt"))
    val all = Window.partitionBy()
    val quotas = counts
      .withColumn("__total", sum(col("__cnt")).over(all))
      // `div` = exact integral division (a double `/` + floor can land one
      // ulp under an exact multiple and floor to quota-1)
      .withColumn("__base", expr(s"(${n}L * __cnt) div __total"))
      .withColumn("__rem",
        lit(n) * col("__cnt") - col("__base") * col("__total"))
      .withColumn("__rrank", row_number().over(
        all.orderBy(col("__rem").desc, col(stratumCol))))
      .withColumn("__left", lit(n) - sum(col("__base")).over(all))
      .select(col(stratumCol),
        (col("__base") + when(col("__rrank") <= col("__left"), 1L)
          .otherwise(0L)).as("__quota"))
    val ranked = df.join(broadcast(quotas), Seq(stratumCol))
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col(stratumCol))
          .orderBy(keyHash(col(keyCol)), col(keyCol))))
    ranked.filter(col("__rank") <= col("__quota"))
      .drop("__quota", "__rank")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * assign each row the key u^(1/w) with u drawn deterministically from
    * [[keyHash]]; the n largest keys ARE a weighted sample without
    * replacement. Ranking uses ln(u)/w (same order, no tiny powers) and
    * ROUNDS it so ln() ulps can't flip the cut on any engine; ties break
    * on the key column. Top-n goes through TakeOrdered — no full sort —
    * and the scan carries only (key, weight) until the final project.
    * Weights must be strictly positive.
    */
  def weightedSampleWithoutReplacement(df: DataFrame, keyCol: String,
                                       weightCol: String, n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val u = (keyHash(col(keyCol)) + lit(0.5)) / lit(4294967296.0)
    val score = round(log(u) / col(weightCol), 6)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__aes").desc, col(keyCol))
    df.withColumn("__aes", score)
      .orderBy(col("__aes").desc, col(keyCol)).limit(n)
      .withColumn("rank", row_number().over(w).cast("long"))
      .drop("__aes")
  }

  def mixtureSample(df: DataFrame, groupCol: String, keyCol: String,
                    percents: Map[String, Int],
                    defaultPercent: Int = 100): DataFrame = {
    require((defaultPercent +: percents.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "percents must be in [0, 100]")
    val pct = percents.foldLeft(lit(defaultPercent)) { case (acc, (g, p)) =>
      when(col(groupCol) === g, p).otherwise(acc)
    }
    df.filter(pmod(keyHash(col(keyCol)), lit(100)) < pct)
  }
}
