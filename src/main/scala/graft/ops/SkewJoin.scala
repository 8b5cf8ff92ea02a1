package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salting for skewed equi-joins: when one join key carries a disproportionate
  * share of rows, a plain shuffle join lands the hot key on one task. Salting
  * splits the hot side's key into `factor` sub-keys and replicates the other
  * side across all sub-keys, so the hot partition fans out `factor`-ways.
  *
  * AQE's skew-join splitting (on by default in GraftSession) handles most
  * cases at runtime; explicit salting remains the tool when the skew is in
  * the AGGREGATION after the join, or on engines/paths AQE doesn't cover.
  *
  * Measured guidance (planted-skew bake-off, 40M fact rows with 50% on ONE
  * key, 1000-key dim side forced off the broadcast path, local[32] —
  * BENCH_NOTES_r5): plain shuffle join with AQE splitting off 12.5 s; AQE
  * skew splitting on 8.8 s; saltedJoin(factor = 32) 4.7 s. AQE recovers
  * ~30% by splitting the skewed partition at the reducer, but each split
  * still joins against the full replicated build side; salting spreads the
  * hot key map-side BEFORE the shuffle, so it wins another ~2x. Default to
  * AQE (zero code, handles skew you didn't predict); reach for saltedJoin
  * when one key is a known, dominant hot spot on a recurring pipeline.
  */
object SkewJoin {

  /** Inner equi-join `left.key == right.key` with the left side salted
    * `factor` ways and the right side replicated. Result columns = left ++
    * right (minus the right key).
    *
    * The salt must be DETERMINISTIC BY ROW CONTENT: order-dependent salts
    * (rand(), monotonically_increasing_id) assign different salts to the
    * same row when a lost shuffle partition is recomputed, which can
    * duplicate or drop rows mid-stage. Pass `saltKey` (a unique id column)
    * to spread rows that are otherwise full duplicates; with the default
    * whole-row hash, identical rows share a salt and are NOT spread —
    * correct, just unspread (use AQE skew-join splitting or a saltKey for
    * that corpus shape).
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String, factor: Int,
                 saltKey: Option[String] = None): DataFrame = {
    require(factor >= 1, "salt factor must be >= 1")
    val saltSource = saltKey.fold(xxhash64(struct(left.columns.map(col): _*)))(
      c => xxhash64(col(c)))
    val saltedLeft = left.withColumn("__salt",
      pmod(saltSource, lit(factor)).cast("int"))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    saltedLeft
      .join(replicatedRight,
        col(leftKey) === col(rightKey) && saltedLeft("__salt") === replicatedRight("__salt"))
      .drop("__salt")
      .drop(rightKey)
  }
}
