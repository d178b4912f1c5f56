package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benford first-significant-digit audit (Benford 1938; Nigrini's fraud
  * analytics) — organically-generated magnitudes follow
  * `P(d) = log10(1 + 1/d)`; synthetic, truncated, or fabricated numeric
  * columns don't. A per-partition digit histogram against the Benford
  * expectation is a cheap data-quality tripwire on any money/size/count
  * column in the lake.
  *
  * Digit extraction avoids float `log10` entirely: the value is floored
  * to int64 and the first character of its decimal rendering is the
  * digit — exact and identical on every engine, where
  * `floor(x/10^floor(log10 x))` can flip near powers of ten. One
  * partial-agg groupBy((group, digit)) + a tiny rollup: scan-bound.
  */
object Benford {

  /** Per (`groupCol`, first digit) over rows with `valueCol` ≥ 1:
    * observed count, observed share, Benford-expected share, and the
    * digit's χ² contribution `(obs − n·p)²/(n·p)` (shares/χ² rounded to
    * 4/6 dp). Summing `chi2_part` per group gives the group's Benford χ²
    * statistic (8 degrees of freedom).
    */
  def digitAudit(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val observed = df
      .filter(col(valueCol) >= 1)
      .groupBy(col(groupCol),
        substring(floor(col(valueCol)).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .agg(count(lit(1)).as("obs"))
    val totals = observed.groupBy(col(groupCol)).agg(sum(col("obs")).as("n"))
    // densify to all 9 digits: an UNOBSERVED digit still contributes its
    // full (0 − n·p)²/(n·p) = n·p to the group's χ² — dropping it
    // under-reports exactly on the truncated/fabricated distributions
    // the audit exists to catch
    val digits = totals.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val counts = totals
      .crossJoin(broadcast(digits))
      .join(observed, Seq(groupCol, "digit"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
      .select(col(groupCol), col("digit"), col("obs"))
    counts.join(broadcast(totals), groupCol :: Nil)
      .withColumn("p_benford", log10(lit(1.0) + lit(1.0) / col("digit")))
      .select(col(groupCol), col("digit"), col("obs"),
        round(col("obs") / col("n"), 4).as("share_obs"),
        round(col("p_benford"), 4).as("share_exp"),
        round(pow(col("obs") - col("n") * col("p_benford"), 2)
          / (col("n") * col("p_benford")), 6).as("chi2_part"))
  }
}
