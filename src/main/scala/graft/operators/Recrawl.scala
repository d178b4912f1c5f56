package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recrawl scheduling from observed event inter-arrivals — the crawler's
  * "how often does this source change, when is it due" planner: it sets
  * the steady-state revisit cadence per source.
  *
  * Inter-arrival gaps need an ordered neighbor (lag), so the ONE window in
  * this operator is partitioned by (entity, key) — at 100 TB that is
  * per-domain-per-page, millions of small partitions, never a single hot
  * key (the per-entity rollup that could be hot is a plain partial agg).
  * The last-seen + mean-gap due time stays in integer epoch seconds
  * end-to-end: timestamps-as-floats would drift across engines.
  */
object Recrawl {

  /** Per-entity schedule report.
    * `entityCol` = the coarse schedule key (domain / event_type),
    * `keyCol` = the fine interleaving key (page / user) whose own event
    * stream defines the gaps.
    */
  def schedule(events: DataFrame, entityCol: String, keyCol: String,
               tsCol: String): DataFrame = {
    // NTZ-safe like the TemporalJoins entry points: unix_micros rejects
    // TIMESTAMP_NTZ at analysis time
    val ts = graft.core.Tables.requireTimestamp(events, tsCol)
    val secs = (unix_micros(col(tsCol)) / 1000000L).cast("long")
    val w = Window.partitionBy(col(entityCol), col(keyCol)).orderBy(col("s"))
    val gaps = ts.select(col(entityCol), col(keyCol), secs.as("s"))
      .withColumn("prev", lag(col("s"), 1).over(w))
      .withColumn("gap", col("s") - col("prev"))

    gaps.groupBy(col(entityCol))
      .agg(
        count_distinct(col(keyCol)).as("n_keys"),
        count(col("gap")).as("n_gaps"),
        round(avg(col("gap")), 4).as("avg_gap_s"),
        max(col("gap")).as("max_gap_s"),
        max(col("s")).as("last_seen_s"))
      .withColumn("next_due_s",
        (col("last_seen_s") + ceil(col("avg_gap_s"))).cast("long"))
  }
}
