package graft.ops

import graft.Materialize.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association rules (support / confidence / lift) over
  * (basket, item) pairs — the "users who trigger A also trigger B"
  * co-occurrence mining pass.
  *
  * Shape (a-priori pruning): items are presence-deduped per basket, then
  * only items whose basket-support clears the relative floor enter pair
  * generation, so the per-basket self-join is bounded by the FREQUENT
  * item count — the classic a-priori guarantee that any frequent pair's
  * members are themselves frequent means the pruning loses nothing.
  * Every shuffle carries (basket, item) key pairs only; the basket total
  * and the item-support table come from partial-aggregated counts and
  * join back broadcast (item vocabulary is bounded by the floor).
  */
object Association {

  /** Pairwise rules over `df`'s (basketCol, itemCol). An item must appear
    * in at least `ceil(minSupportFrac * nBaskets)` distinct baskets to
    * participate; the same floor applies to pairs. Emits both rule
    * directions with `support`, `confidence`, `lift` rounded to 6 dp so
    * downstream ranking cannot diverge on last-ulp division differences.
    */
  def pairRules(df: DataFrame, basketCol: String, itemCol: String,
                minSupportFrac: Double = 0.2): DataFrame = {
    val b = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("item").isNotNull).distinct()
      // consumed by the total, the item-support pass, and both sides of
      // the pair self-join — materialized ONCE as a raw-row checkpoint:
      // a .persist() here measured 30-90 CPU-s vs ~1 for the checkpoint
      // (r9 assoc3 A/B, history/OPTIMIZATION_r09.md; columnar cache
      // build/decode + its stats flipping downstream join planning)
      .materialize
    val n = b.agg(countDistinct(col("basket")).as("n_baskets"))
    val freq = b.groupBy(col("item")).agg(count(lit(1)).as("c_item"))
      .crossJoin(broadcast(n))
      .filter(col("c_item") >= ceil(lit(minSupportFrac) * col("n_baskets")))
      .select(col("item"), col("c_item"))
    val fb = b.join(freq.select(col("item")), Seq("item"))
    val pairs = fb.select(col("basket"), col("item").as("a"))
      .join(fb.select(col("basket"), col("item").as("b")), Seq("basket"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_pair"))
      .crossJoin(broadcast(n))
      .filter(col("c_pair") >= ceil(lit(minSupportFrac) * col("n_baskets")))
    // both rule directions from ONE pass over the pair aggregate — a
    // two-branch unionAll re-executes the basket self-join + pair count
    // once per branch (measured r9: +10 CPU-s of the q148 path; exchange
    // reuse does not fire across the swapped-column branches)
    val both = pairs
      .select(explode(array(
        struct(col("a").as("antecedent"), col("b").as("consequent"),
          col("c_pair"), col("n_baskets")),
        struct(col("b").as("antecedent"), col("a").as("consequent"),
          col("c_pair"), col("n_baskets")))).as("__r"))
      .select(col("__r.antecedent").as("antecedent"),
        col("__r.consequent").as("consequent"),
        col("__r.c_pair").as("c_pair"), col("__r.n_baskets").as("n_baskets"))
    both
      .join(freq.select(col("item").as("antecedent"),
        col("c_item").as("c_ante")), Seq("antecedent"))
      .join(freq.select(col("item").as("consequent"),
        col("c_item").as("c_cons")), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("c_pair"),
        round(col("c_pair").cast("double") / col("n_baskets"), 6)
          .as("support"),
        round(col("c_pair").cast("double") / col("c_ante"), 6)
          .as("confidence"),
        round(col("n_baskets").cast("double") * col("c_pair") /
          (col("c_ante").cast("double") * col("c_cons")), 6).as("lift"))
  }

  /** Volume curve of each a-priori stage, for stress adjudication: how the
    * support floor actually bounds the pair self-join as basket volume
    * grows. One row: (n_baskets, n_frequent_items, n_candidate_pairs,
    * n_frequent_pairs) where candidate pairs = the pair-join OUTPUT before
    * the pair-support floor (the term that could go quadratic if the item
    * floor stopped holding).
    */
  def pairRuleStats(df: DataFrame, basketCol: String, itemCol: String,
                    minSupportFrac: Double = 0.2): (Long, Long, Long, Long) = {
    val b = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("item").isNotNull).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nB = b.select(countDistinct(col("basket"))).collect()(0).getLong(0)
    val floor = math.ceil(minSupportFrac * nB).toLong
    val freq = b.groupBy(col("item")).agg(count(lit(1)).as("c_item"))
      .filter(col("c_item") >= floor)
    val nI = freq.count()
    val fb = b.join(freq.select(col("item")), Seq("item"))
    val cand = fb.select(col("basket"), col("item").as("a"))
      .join(fb.select(col("basket"), col("item").as("b")), Seq("basket"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = cand.count()
    val nFreqPairs = cand.filter(col("c_pair") >= floor).count()
    b.unpersist(); cand.unpersist()
    (nB, nI, nCand, nFreqPairs)
  }
}
