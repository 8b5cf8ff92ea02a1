package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fixed-step recurrences over one row's columns as ONE `aggregate`
  * expression: Holt and Kalman filters over a pivoted series, power and
  * Jacobi iterations over a pivoted transition matrix, bisection.
  *
  * The state is a struct of named doubles or longs. A step maps the state
  * (and, in [[overInputs]], that step's input) to the next value of every
  * field; each expression is evaluated as written, so a recurrence keeps
  * the operand order of the same steps written as a chain of `select`s and
  * gives bit-identical doubles. Columns that every step reads unchanged (a
  * transition matrix) are referenced directly: the lambda sees the row.
  *
  * Why not the chain of selects: n steps put n Projects into the plan.
  * Spark analyses each new Dataset as it is built, and under AQE it
  * re-optimizes and re-plans the rest of the plan, all n Projects, after
  * each query stage finishes. The chain also needs an eager checkpoint
  * every few steps, or CollapseProject inlines it into one expression that
  * grows with every step. Here the plan holds one Project whatever n is.
  * Spark evaluates higher-order functions interpreted (no codegen), so
  * keep them to rows of bounded width and count, as in the callers.
  */
object Recurrence {

  /** The state at one step: `st("x")` is field `x`. */
  type State = String => Column

  /** `n` steps of `step` from `init` (field name and initial value, in
    * field order); `step` returns the next value of each field in the same
    * order. A struct column with `init`'s field names; `n = 0` gives `init`.
    */
  def iterate(init: Seq[(String, Column)], n: Int)(step: State => Seq[Column]): Column = {
    require(n >= 0, s"a recurrence needs a step count >= 0, got $n")
    // sequence(1, 0) counts down to [1, 0]: zero steps is the initial state
    if (n == 0) struct(named(init.map(_._1), init.map(_._2)): _*)
    else overInputs(init, sequence(lit(1), lit(n)))((st, _) => step(st))
  }

  /** One step per element of the array column `inputs`, in array order,
    * e.g. `array(y1, ..., yN)` for a series: `step` gets the state and the
    * element. Otherwise as [[iterate]]; an empty array gives `init`.
    */
  def overInputs(init: Seq[(String, Column)], inputs: Column)(
      step: (State, Column) => Seq[Column]): Column = {
    val names = init.map(_._1)
    aggregate(inputs, struct(named(names, init.map(_._2)): _*), (acc, x) => {
      val next = step(acc.getField, x)
      require(next.size == names.size,
        s"a step returned ${next.size} values for the ${names.size} fields $names")
      struct(named(names, next): _*)
    })
  }

  private def named(names: Seq[String], values: Seq[Column]): Seq[Column] =
    names.zip(values).map { case (n, v) => v.as(n) }
}
