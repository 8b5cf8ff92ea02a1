package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline data-quality expectations (dbt-test style), returned as
  * VIOLATION sets — empty result == constraint holds, and the violating
  * keys themselves are reportable/oracle-checkable rather than a bare
  * boolean. Both checks are single aggregations/joins: at 100 TB the
  * uniqueness check is one partial-aggregated count on the key and the
  * integrity check one (broadcastable) anti-join — no full-row shuffles.
  */
object Checks {

  /** Key groups with more than one row (uniqueness violations), with their
    * multiplicities: (cols..., n_rows).
    */
  def duplicateKeys(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Child rows whose `childKey` has no match in `parent.parentKey`
    * (referential-integrity orphans). Null child keys are not orphans (SQL
    * foreign-key semantics).
    */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame =
    child.filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")

  /** k-anonymity suppression: keep only rows whose quasi-identifier
    * combination (`quasiCols`) is shared by at least `k` rows — the
    * release-gating rule for person-adjacent data (a row identifiable by a
    * unique attribute combination must not ship in a training corpus).
    * Null-safe: nulls group together, SQL GROUP BY semantics.
    *
    * Scale shape: one partial-aggregated count on the quasi columns (group
    * cardinality ≪ rows, so the count side is tiny and broadcast-joins
    * back) — the data itself shuffles zero times. Pair with the PII
    * redaction functions for the column-level counterpart.
    */
  def kAnonymous(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1)
    val counts = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= k)
      .select(quasiCols.map(c => col(c).as(s"__q_$c")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    df.join(counts, cond, "left_semi")
  }
}
