package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-source quantile normalization (the microarray-era Bolstad et al.
  * technique applied to corpus curation): map each document's
  * WITHIN-SOURCE quantile onto the pooled corpus distribution, so a
  * "long document for its source" compares fairly across sources whose
  * raw scales differ — the preprocessing step before any cross-source
  * threshold or mixing decision.
  *
  * Numeric discipline: the target position is pure integer arithmetic —
  * `p = ((rank−1)·(N−1)) div (n_src−1) + 1` — never a float quantile
  * multiply whose floor could flip between engines. Scale shape: one
  * per-source rank window (the q137 winsorize class), a global
  * DISTINCT-VALUE cumulative grid (integer cumsum over the bounded value
  * grid in a single-task window — raw rows are never globally sorted,
  * only distinct values), broadcast-joined back by position range; corpus
  * totals ride a 1-row broadcast.
  */
object QuantileNorm {

  /** Adds `norm_value`: the pooled-distribution value at the doc's
    * within-source quantile. Single-row sources map to the pooled
    * median. Values must be integral (the grid join is exact).
    */
  def normalize(df: DataFrame, groupCol: String, idCol: String,
                valueCol: String): DataFrame = {
    // internal names are _qn-prefixed so caller column names (including
    // a value column literally named "v" or "p") can never collide
    val rows = df.select(col(groupCol), col(idCol), col(valueCol))
    val total = rows.agg(count(lit(1)).as("_qn_n_all")) // 1 row
    val srcN = rows.groupBy(col(groupCol)).agg(count(lit(1)).as("n_src"))
    val rankW = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(idCol))
    // pooled distinct-value grid with [cum_lo, cum_hi] position ranges
    val grid = rows.groupBy(col(valueCol).as("_qn_v")).agg(count(lit(1)).as("_qn_c"))
      .withColumn("_qn_hi", sum(col("_qn_c")).over(Window.orderBy(col("_qn_v"))))
      .withColumn("_qn_lo", col("_qn_hi") - col("_qn_c") + 1)
      .select(col("_qn_v"), col("_qn_lo"), col("_qn_hi"))
    rows
      .withColumn("rank_src", row_number().over(rankW))
      .join(srcN, groupCol :: Nil)
      .crossJoin(broadcast(total))
      .withColumn("_qn_p",
        when(col("n_src") === 1, expr("(_qn_n_all + 1) div 2"))
          .otherwise(expr("((rank_src - 1) * (_qn_n_all - 1)) div (n_src - 1) + 1")))
      .join(broadcast(grid),
        col("_qn_p") >= col("_qn_lo") && col("_qn_p") <= col("_qn_hi"))
      .select(col(groupCol), col(idCol), col(valueCol),
        col("rank_src").cast("long").as("rank_src"), col("n_src"),
        col("_qn_v").as("norm_value"))
  }
}
