package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the single right row with the greatest
  * right timestamp <= the left timestamp among key matches (the "backward"
  * direction; "forward" is the mirror).
  *
  * Composed from built-ins per the engine's preference order — an equi-join
  * on the key with a range predicate, then a per-left-row window keeping
  * rank 1. Catalyst plans the join (broadcast if a side is small, SMJ
  * otherwise) and AQE handles skewed keys. A custom SparkPlan (range-
  * partitioned merge) only becomes worthwhile when key fanout makes the
  * intermediate join explode; at that point the window input should be
  * pre-aggregated with max_by per (leftId) instead — see the groupBy
  * variant below, which avoids the window entirely.
  */
object AsofJoin {

  /** Window formulation: general (can carry all right columns through). */
  def backward(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftId: String, leftTs: String, rightTs: String,
               rightTieCols: Seq[String] = Nil): DataFrame = {
    val j = left.join(right,
      col(leftKey) === col(rightKey) && col(rightTs) <= col(leftTs))
    val order = col(rightTs).desc +: rightTieCols.map(c => col(c).desc)
    val w = Window.partitionBy(col(leftId)).orderBy(order: _*)
    j.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregation formulation: one hash aggregate instead of a sort-window —
    * cheaper when only a few right columns are needed, and partial
    * aggregation shrinks the join output before the shuffle. `pick` are
    * (rightColumn -> outputName) pairs selected from the max-(rightTs, tie)
    * row via max_by on a packed struct.
    *
    * Both formulations are INNER as-of joins: left rows with no right match
    * are dropped. For a left-outer as-of, join the result back to `left`
    * with "left".
    */
  def backwardAgg(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  leftId: String, leftTs: String, rightTs: String,
                  rightTie: String, pick: Seq[(String, String)],
                  carryCols: Seq[String] = Nil): DataFrame = {
    val j = left.join(right,
      col(leftKey) === col(rightKey) && col(rightTs) <= col(leftTs))
    val ordKey = struct(col(rightTs), col(rightTie))
    val picked = pick.map { case (c, out) => max_by(col(c), ordKey).as(out) }
    j.groupBy((leftId +: carryCols).map(col): _*)
      .agg(picked.head, picked.tail: _*)
  }

  /** Forward as-of (window form): the single right row with the SMALLEST
    * right timestamp >= the left timestamp — the mirror of [[backward]]
    * (next-event lookup instead of most-recent).
    */
  def forward(left: DataFrame, right: DataFrame,
              leftKey: String, rightKey: String,
              leftId: String, leftTs: String, rightTs: String,
              rightTieCols: Seq[String] = Nil): DataFrame = {
    val j = left.join(right,
      col(leftKey) === col(rightKey) && col(rightTs) >= col(leftTs))
    val order = col(rightTs).asc +: rightTieCols.map(c => col(c).asc)
    val w = Window.partitionBy(col(leftId)).orderBy(order: _*)
    j.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** LEFT-OUTER as-of join (aggregation form): every left row appears
    * exactly once; left rows with no key-and-time match carry nulls in the
    * picked columns. Composed as the inner as-of aggregate joined back to
    * `left` on `leftId` — the aggregate side holds at most one row per left
    * id, so the back-join never duplicates and shuffles only (id, picked).
    * Requires `leftId` to be unique in `left` (it is an id).
    */
  def backwardOuterAgg(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftId: String, leftTs: String, rightTs: String,
                       rightTie: String, pick: Seq[(String, String)],
                       carryCols: Seq[String] = Nil): DataFrame = {
    val inner = backwardAgg(left, right, leftKey, rightKey,
      leftId, leftTs, rightTs, rightTie, pick, Nil)
    left.select((leftId +: carryCols).map(col): _*)
      .join(inner, Seq(leftId), "left")
  }
}
