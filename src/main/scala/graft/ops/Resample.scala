package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: bucket an event stream to a fixed grid per
  * key, materialize the missing buckets, and forward-fill the last
  * observed value — the resample/gap-fill primitive for feature pipelines
  * over irregular telemetry.
  *
  * Scale shape: the raw stream is reduced FIRST (partial+final aggregate
  * to one row per (key, bucket)) — the grid explode and the fill window
  * run over the bucketed relation, whose size is bounded by
  * keys x span/step regardless of raw event volume. One shuffle for the
  * aggregate, one for the per-key fill window (both on the key); the
  * sequence() explode is bounded per key by the key's own time span.
  * A key with a pathological span (one event in 1970, one today) bounds
  * the blow-up at span/step rows for that key only — cap with a WHERE on
  * the span if the source can contain such keys.
  */
object Resample {

  /** Hourly gap-fill: returns one row per (key, hour) covering each key's
    * [min hour, max hour] span with
    *   - `v`: the bucket's aggregated value (avg rounded to 4 dp), null in
    *     gap buckets;
    *   - `v_filled`: v forward-filled from the last observed bucket;
    *   - `n`: event count in the bucket (0 in gaps);
    *   - `is_gap`: true where the grid row had no events.
    */
  def gapFillHourly(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String): DataFrame = {
    val bucketed = df
      .groupBy(col(keyCol), date_trunc("hour", col(tsCol)).as("bucket"))
      .agg(round(avg(col(valueCol)), 4).as("v"), count(lit(1)).as("n"))

    val grid = bucketed.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(col(keyCol),
        explode(sequence(col("__b0"), col("__b1"),
          expr("interval 1 hour"))).as("bucket"))

    val fillW = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    grid.join(bucketed, Seq(keyCol, "bucket"), "left")
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(fillW))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      // a gap is a bucket with NO events — a bucket whose events all have
      // null values keeps n > 0 and simply contributes no fill value
      .withColumn("is_gap", col("n") === 0)
      .select(col(keyCol), col("bucket"), col("v"), col("v_filled"),
        col("n"), col("is_gap"))
  }

  /** Exponentially time-decayed sum per key: each event contributes
    * value * exp(-(t_ref - t) / tauSeconds), t_ref = the global max event
    * time — the recency-weighted engagement score (a "decayed count" when
    * `valueCol` is 1). ONE aggregate over the rows; the reference instant
    * is a broadcast 1-row frame, so no window and no self-join. The decay
    * factors are identical-input doubles on any engine; the sum is
    * rounded (4 dp) for engine-portable ranking. Time runs in exact
    * microseconds (unix_micros — the DuckDB twin is epoch_us), not
    * truncated seconds, so both engines feed the identical longs into
    * the exp().
    */
  def decayedSum(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, tauSeconds: Double): DataFrame = {
    val tRef = df.agg(max(unix_micros(col(tsCol))).as("__t_ref"))
    df.crossJoin(broadcast(tRef))
      .groupBy(col(keyCol))
      .agg(round(sum(col(valueCol) *
        exp(-(col("__t_ref") - unix_micros(col(tsCol))).cast("double") /
          lit(tauSeconds * 1e6))), 4).as("decayed_sum"),
        count(lit(1)).as("n_events"))
  }
}
