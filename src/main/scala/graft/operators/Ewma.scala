package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average over per-key daily counts — the
  * classic smoothing/forecast baseline behind capacity planning and
  * recrawl cadence (a batch twin of the streaming Welford rate-anomaly
  * fold in [[graft.streaming]]).
  *
  * Numeric discipline: α is fixed at 1/2 and the weighted sum is computed
  * in INTEGER arithmetic — `2^n·ewma_n = 2·x_1 + Σ_{i≥2} 2^{i-1}·x_i` is
  * an exact int64 (series capped at `window` points so shifts stay ≤2^24),
  * and the final division by `2^n` is an exact power-of-two scaling of a
  * <2^53 integer. The result is bit-identical on ANY engine regardless of
  * aggregation order — the same order-independence discipline as the
  * repo's ppm sketches — where a float fold would hash-mismatch across
  * plans.
  *
  * Shape: one partial-agg groupBy for the daily counts, one per-key
  * window (bounded by `window`, so no unbounded hot-key state), one final
  * partial-agg rollup. Keys are event types — tiny — but the same plan
  * holds for per-domain or per-shard keys at 100 TB.
  */
object Ewma {

  /** Per `keyCol`: the α=1/2 EWMA of the daily row counts over the most
    * recent `window` days observed (m = points used, ≤ window), the flat
    * one-step forecast (= the EWMA), and the plain mean of the same span
    * for contrast. `ewma`/`mean_x` rounded to 4 dp.
    */
  def dailyCounts(events: DataFrame, keyCol: String, tsCol: String,
                  window: Int = 25): DataFrame = {
    require(window >= 1 && window <= 30, s"window $window must keep 2^i exact")
    val daily = DayGrid.of(events, keyCol, tsCol)
    val fromEnd = Window.partitionBy(col(keyCol)).orderBy(col("day").desc)
    val recent = daily
      .withColumn("_rn", row_number().over(fromEnd))
      .filter(col("_rn") <= window)
    // ascending index i over the kept span; seed term carries 2·x_1
    val asc = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    recent
      .withColumn("i", row_number().over(asc))
      .withColumn("c", when(col("i") === 1, lit(2L) * col("x"))
        .otherwise(expr("shiftleft(1L, cast(i - 1 AS int))") * col("x")))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("m"),
        max(col("day")).as("last_day"),
        round(sum(col("c")).cast("double")
          / expr("shiftleft(1L, cast(max(i) AS int))").cast("double"), 4)
          .as("ewma"),
        round(sum(col("x")).cast("double") / count(lit(1)), 4).as("mean_x"))
  }
}

/** The per-key daily-count grid: the epoch-day bucketing [[Ewma]]
  * collapses onto before any window.
  */
private object DayGrid {
  /** `(keyCol, day, x)` — integer epoch-day (µs div 86400000000) counts. */
  def of(events: DataFrame, keyCol: String, tsCol: String): DataFrame =
    events.groupBy(col(keyCol),
        expr(s"unix_micros(`$tsCol`) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
}
