package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-shard export planning: assign documents, in a deterministic
  * global order, to fixed-token-budget shards — the last step of a
  * training-data pipeline (writers consume shard directories in order;
  * every re-run must produce byte-identical shard membership).
  *
  * Scale shape: the global order and the running token total both come
  * from the two-phase prefix-sum machinery ([[PrefixSum]]) — range
  * partition + per-partition offsets — so NO step funnels the corpus
  * through a single ranking task; the shard id is then a map-side
  * expression over the running total.
  *
  * The prefix-sum passes persist their range-partitioned input, so at
  * 100 TB pass a THIN relation (id, token count, order keys) to
  * [[shardAssignments]] and join document payloads back on the id after
  * assignment — never push the text through the ranking passes (q112/q114
  * follow this pattern).
  */
object Sharding {

  /** Adds `pos` (1-based global rank under `order`) and `shard_id`
    * (0-based): shard k holds the maximal run of consecutive docs whose
    * preceding cumulative token count is in [k*budget, (k+1)*budget).
    * A document lands in the shard its FIRST token falls into, so every
    * shard except the last holds at least `tokensPerShard` tokens minus
    * one document's overhang.
    */
  def shardAssignments(df: DataFrame, order: Seq[Column], tokens: Column,
                       tokensPerShard: Long,
                       out: String = "shard_id"): DataFrame = {
    require(tokensPerShard >= 1, "tokensPerShard must be >= 1")
    val ranked = PrefixSum.globalRank(
      df.withColumn("__tok", tokens.cast("long")), order, "pos")
    val cum = PrefixSum.groupedRunningSum(
      ranked.withColumn("__g", lit(0)), "__g", "pos", col("__tok"), "__cum")
    cum
      .withColumn(out, floor((col("__cum") - col("__tok")) /
        lit(tokensPerShard.toDouble)).cast("long"))
      .drop("__g", "__tok", "__cum")
  }
}
