package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history from an append-only change
  * log — the warehouse-side merge a CDC ingest pipeline needs: collapse
  * consecutive rows with an unchanged tracked attribute into validity
  * intervals, with the open interval marked current.
  *
  * Scale shape: ONE shuffle, on the dimension key. Both window passes and
  * the final interval computation run over the same
  * (key, order-by ts/tie) partitioning, so Catalyst plans a single
  * Exchange; the change-row filter collapses the log before the second
  * pass (lead/row_number run on change rows only, typically a small
  * fraction of the log). No driver-side state; per-key memory is one
  * window frame row.
  */
object Scd {

  /** Build the SCD2 interval table.
    *
    * @param keyCol  dimension key (partition key of the single shuffle)
    * @param attrCol tracked attribute; consecutive equal values (null-safe)
    *                merge into one interval
    * @param tsCol   change timestamp (interval bounds)
    * @param tieCol  unique tiebreaker for simultaneous changes (e.g. the
    *                log sequence number) — makes the history deterministic
    * @return (key, attr, valid_from, valid_to, version, is_current);
    *         valid_to is null on the current row; version counts intervals
    *         per key from 1 in time order.
    */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
                  tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changes = df
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      // first row per key (lag null marker needs null-safe compare: an
      // attr that is itself null must still open an interval)
      .withColumn("__first", row_number().over(w) === 1)
      .filter(col("__first") || !(col("__prev") <=> col(attrCol)))

    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(keyCol), col(attrCol), col("valid_from"),
        col("valid_to"), col("version"), col("is_current"))
  }

  /** Fact-to-dimension as-of join: each fact row picks the SCD2 interval
    * in force at its timestamp (valid_from <= ts < valid_to; the open
    * current interval matches onward). An equi-join on the dimension key
    * — versions per key are few by construction, so the interval
    * predicate prunes a handful of candidate rows per fact; both sides
    * shuffle once on the key (a small dimension broadcasts under AQE).
    * Facts before a key's first interval, or with unknown keys, keep
    * null dimension attributes (left join).
    */
  def dimensionJoin(facts: DataFrame, history: DataFrame, keyCol: String,
                    tsCol: String): DataFrame = {
    // rename the dimension key before joining: facts and history often
    // derive from the SAME source, and dataframe-qualified references
    // (facts(keyCol)/history(keyCol)) mis-resolve under self-join lineage
    // — an unmatched left row would surface the dimension's null key
    // instead of the fact's
    val h = history.withColumnRenamed(keyCol, "__dim_key")
    facts.join(h, col(keyCol) === col("__dim_key") &&
        col("valid_from") <= col(tsCol) &&
        (col("valid_to").isNull || col("valid_to") > col(tsCol)), "left")
      .drop("__dim_key")
  }
}
