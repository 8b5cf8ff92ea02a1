package graft.ops

import graft.Materialize.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed training of a linear quality classifier — the "cheap
  * model in the loop" step of corpus pipelines (CCNet-style quality
  * scoring, language filters, heuristic distillation): logistic
  * regression by full-batch gradient descent where EACH EPOCH IS ONE
  * AGGREGATE over the corpus.
  *
  * Scale shape: the model (a few doubles) broadcasts into the epoch's
  * expressions as literals; the gradient is `dim` partial-aggregated
  * sums (map-side combine collapses every task to one row), so per
  * epoch the cluster moves dim doubles per task and the driver holds
  * only the weight vector — textbook data-parallel GD. Fixed iteration
  * count and fixed initial weights keep the run deterministic and
  * engine-portable (an external oracle replays the same unrolled
  * updates).
  */
object LinearModel {

  /** `nIter` full-batch GD steps of logistic regression on
    * `featureCols` (already-numeric columns; include a lit(1) bias
    * column) against 0/1 `labelCol`. Learning rate `lr`, zero-initial
    * weights, gradient normalized by the row count. Returns the weight
    * vector after the last step.
    */
  def logisticGd(df: DataFrame, featureCols: Seq[String], labelCol: String,
                 lr: Double = 0.5, nIter: Int = 3): Array[Double] = {
    require(featureCols.nonEmpty && nIter >= 1)
    val n = featureCols.length
    var w = Array.fill(n)(0.0)
    val cached = df.select(
      (featureCols.map(c => col(c).cast("double").as(c)) :+
        col(labelCol).cast("double").as("__y")): _*).materialize
    for (_ <- 1 to nIter) {
      val z = featureCols.zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val resid = p - col("__y")
      val aggs = featureCols.zipWithIndex.map { case (c, i) =>
        (sum(resid * col(c)) / count(lit(1))).as(s"g$i")
      }
      val g = cached.agg(aggs.head, aggs.tail: _*).head()
      w = w.zipWithIndex.map { case (wi, i) => wi - lr * g.getDouble(i) }
    }
    w
  }

  /** Mean log-loss and accuracy of weights `w` on the same feature/label
    * frame — the held-out evaluation step, one aggregate.
    */
  def logisticEval(df: DataFrame, featureCols: Seq[String], labelCol: String,
                   w: Array[Double]): DataFrame = {
    val z = featureCols.zip(w).map { case (c, wi) => col(c).cast("double") * lit(wi) }
      .reduce(_ + _)
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    val y = col(labelCol).cast("double")
    df.agg(
      avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p))).as("log_loss"),
      avg(when((p >= 0.5) === (y === 1.0), 1.0).otherwise(0.0)).as("accuracy"),
      count(lit(1)).as("n"))
  }
}
