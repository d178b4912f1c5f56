package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mann-Whitney U rank-sum test (Mann & Whitney 1947; Wilcoxon 1945) —
  * the non-parametric twin of the q190 Welch t: "does variant B's value
  * distribution stochastically dominate A's", robust to the heavy tails
  * and outliers that wreck a means test on raw metrics.
  *
  * Numeric discipline: ranks come from the DISTINCT-VALUE grid (q118 —
  * raw rows are never globally sorted); midranks are exact multiples of
  * ½ and every partial rank-sum stays an exactly-representable multiple
  * of ½ below 2^53, so the sum is order-independent across engines and
  * partitions (the same argument as the integer sufficient statistics,
  * extended to halves). The tie-corrected normal approximation is one
  * float formula at the output edge.
  */
object RankTests {

  /** One-row Mann-Whitney report for `valueCol` split by boolean-ish
    * `groupCol` (0 vs 1): group sizes, rank sum and U for group 1, the
    * tie-corrected z (4 dp), and the common-language effect size
    * `U1/(n0·n1)` (4 dp).
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val rows = df.select(col(groupCol).cast("int").as("g"),
      col(valueCol).cast("double").as("v"))
    // distinct-value grid with per-group counts and midranks
    val grid = rows.groupBy(col("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
    val byV = Window.orderBy(col("v")) // grid-sized single-task window
    val ranked = grid
      .withColumn("cumBefore",
        coalesce(sum(col("c")).over(byV.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("midrank", col("cumBefore") + (col("c") + 1).cast("double") / 2)
    val agg = ranked.agg(
      sum(col("c")).as("nTot"),
      sum(col("c1")).as("n1"),
      sum(col("midrank") * col("c1")).as("r1"),
      sum(col("c") * col("c") * col("c") - col("c")).as("tieSum"))
    agg.select(
        (col("nTot") - col("n1")).as("n0"), col("n1"), col("r1"), col("nTot"),
        col("tieSum"))
      .select(col("n0"), col("n1"),
        (col("r1") - col("n1").cast("double") * (col("n1") + 1) / 2).as("u1d"),
        col("nTot"), col("tieSum"), col("r1"))
      // the tie term divides by nTot·(nTot−1): a 0/1-row input must flow
      // to NULL here, BEFORE the division, not blow up under ANSI
      .withColumn("_var",
        when(col("nTot") > 1,
          col("n0").cast("double") * col("n1") / 12
            * ((col("nTot") + 1)
              - col("tieSum").cast("double") / (col("nTot") * (col("nTot") - 1)))))
      .select(col("n0"), col("n1"),
        col("r1").as("rank_sum_1"),
        col("u1d").as("u1"),
        // degenerate inputs (all-tied values, an empty group) zero the
        // variance — NULL, not an ANSI divide-by-zero
        when(col("_var") > 0,
          round((col("u1d") - col("n0").cast("double") * col("n1") / 2)
            / sqrt(col("_var")), 4)).as("z"),
        when(col("n0") > 0 && col("n1") > 0,
          round(col("u1d") / (col("n0").cast("double") * col("n1")), 4)).as("effect"))
  }

  /** Kendall τ-b (Kendall 1938; tie correction per Kendall 1945) between
    * two pre-BINNED integer metrics, per group — the rank-correlation
    * companion to q79's Pearson r: monotone-association strength that
    * ignores the metric's shape entirely.
    *
    * Scale discipline: concordant/discordant pairs come from a self-join
    * of the (group, xb, yb) CELL GRID, never of raw rows — callers bin
    * the metrics first, so the grid (and the pair term) is bounded by the
    * bin domain, not the corpus. Everything
    * is int64 until τ's one division at the edge; the counts themselves
    * are gate-hashable integers.
    */
  /** Spearman ρ per group (Spearman 1904, tie-corrected via midranks):
    * Pearson correlation of the two variables' midranks. Scale story:
    * midranks come from each axis's DISTINCT-VALUE grid (one partial agg
    * + one bounded window per axis — the q118/q200 grid discipline), rows
    * join back on (group, value), and the six Pearson sufficient
    * statistics collapse in ONE partial agg. Midranks are exact
    * ½-multiples, so every sum is dyadic-exact and order-free; the one
    * division happens at the output edge (6dp).
    */
  def spearman(df: DataFrame, grpCol: String, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df.select(col(grpCol).as("g"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    def midranks(vc: String): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col(vc))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.groupBy(col("g"), col(vc)).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        // midrank = (#strictly smaller) + (c+1)/2 — an exact ½-multiple
        .select(col("g"), col(vc),
          ((col("cum") - col("c")).cast("double")
            + (col("c") + 1).cast("double") / 2.0).as(s"r$vc"))
    }
    d.join(midranks("x"), Seq("g", "x"))
      .join(midranks("y"), Seq("g", "y"))
      .groupBy(col("g").as(grpCol))
      .agg(count(lit(1)).as("n"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(col(grpCol), col("n"),
        // all-tied axes zero a variance factor — NULL, not ANSI error
        when(col("n") * col("sxx") > col("sx") * col("sx") &&
          col("n") * col("syy") > col("sy") * col("sy"),
          // `+ 0.0` pins a cancellation-zero numerator to +0.0 (q176 class)
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6) + lit(0.0))
          .as("rho"))
  }

  def kendallTauB(binned: DataFrame, grpCol: String): DataFrame = {
    val cells = binned.groupBy(col(grpCol), col("xb"), col("yb"))
      .agg(count(lit(1)).as("c"))
    val cd = cells.as("a")
      .join(cells.as("b"),
        col(s"a.$grpCol") === col(s"b.$grpCol") &&
          (col("a.xb") < col("b.xb") ||
            (col("a.xb") === col("b.xb") && col("a.yb") < col("b.yb"))))
      .select(col(s"a.$grpCol").as(grpCol),
        (col("a.c") * col("b.c")).as("m"),
        ((col("b.xb") - col("a.xb")) * (col("b.yb") - col("a.yb"))).as("prod"))
      .groupBy(col(grpCol))
      .agg(sum(when(col("prod") > 0, col("m")).otherwise(0L)).as("nc"),
        sum(when(col("prod") < 0, col("m")).otherwise(0L)).as("nd"))
    val tot = cells.groupBy(col(grpCol)).agg(sum(col("c")).as("n"))
      .withColumn("n0", col("n") * (col("n") - 1) / 2)
    val tx = cells.groupBy(col(grpCol), col("xb")).agg(sum(col("c")).as("cx"))
      .groupBy(col(grpCol)).agg(sum(col("cx") * (col("cx") - 1) / 2).as("n1"))
    val ty = cells.groupBy(col(grpCol), col("yb")).agg(sum(col("c")).as("cy"))
      .groupBy(col(grpCol)).agg(sum(col("cy") * (col("cy") - 1) / 2).as("n2"))
    tot.join(cd, Seq(grpCol), "left").join(tx, Seq(grpCol)).join(ty, Seq(grpCol))
      .select(col(grpCol), col("n"),
        coalesce(col("nc"), lit(0L)).as("concordant"),
        coalesce(col("nd"), lit(0L)).as("discordant"),
        // all-tied-in-x or -in-y groups zero a factor — NULL, not ANSI error
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          round((coalesce(col("nc"), lit(0L)) - coalesce(col("nd"), lit(0L)))
              .cast("double")
            / sqrt((col("n0") - col("n1")).cast("double")
              * (col("n0") - col("n2")).cast("double")), 6)).as("tau_b"))
  }

  /** Chatterjee's ξ rank correlation (Chatterjee 2021) per group — the
    * modern dependence coefficient that detects ANY functional
    * relationship (not just monotone ones like Spearman/Kendall): sort
    * by x, walk the y-ranks, and measure how wildly consecutive ranks
    * jump. ξ ≈ 0 for independence, → 1 as y becomes a function of x.
    *
    * General tie-handling form: ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l_i(n−l_i))
    * with r_i = #(y_j ≤ y_i) and l_i = #(y_j ≥ y_i). Ranks come from
    * integer cumsums on the per-group distinct-y grid; the |Δr| walk is
    * one lead() pass over the x-ordered rows (tie-broken by `tieCol`
    * for determinism — Chatterjee's random tie-break replaced by a
    * documented stable one). Every sufficient statistic is an exact
    * integer; n·Σd is cast to double BEFORE multiplying (it overflows
    * a long at corpus scale).
    */
  def chatterjeeXi(df: DataFrame, grpCol: String, xCol: String,
                   yCol: String, tieCol: String): DataFrame = {
    val d = df.select(col(grpCol).as("g"), col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"), col(tieCol).as("tb"))
    val cells = d.groupBy(col("g"), col("y")).agg(count(lit(1)).as("t"))
    val gw = Window.partitionBy(col("g")).orderBy(col("y"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranks = cells
      .withColumn("r", sum(col("t")).over(gw)) // #(y_j <= y)
      .withColumn("n", max(col("r")).over(full))
      .withColumn("l", col("n") - col("r") + col("t")) // #(y_j >= y)
    val den = ranks.groupBy(col("g"))
      .agg(sum(lit(2L) * col("t") * col("l") * (col("n") - col("l"))).as("den"),
        max(col("n")).as("n"))
    val seq = d.join(ranks.select(col("g"), col("y"), col("r")), Seq("g", "y"))
    val xw = Window.partitionBy(col("g")).orderBy(col("x"), col("tb"))
    val sd = seq
      .withColumn("dnext", abs(lead(col("r"), 1).over(xw) - col("r")))
      .groupBy(col("g")).agg(sum(col("dnext")).as("sd")) // last row: NULL, skipped
    den.join(sd, Seq("g"))
      .select(col("g").as(grpCol), col("n"),
        when(col("den") > 0,
          round(lit(1.0) - col("n").cast("double") * col("sd") / col("den"), 6)
            + lit(0.0)).as("xi"))
  }

  /** The full ordinal-association panel over the same bounded bin grid
    * as [[kendallTauB]]: Goodman-Kruskal γ (ignores ties), Somers'
    * D_{Y|X} / D_{X|Y} (penalizes ties on the independent axis only),
    * and Stuart's τ-c (the rectangular-table correction). All pair
    * counts are exact integers from the cell×cell concordance join —
    * the ratios are one division each at the edge. γ, the two D's and
    * τ-c answer different tie questions, which is why they ship
    * together (a 5-bin grid on 100 TB of docs has astronomically many
    * ties — τ-b alone under-reads the association).
    */
  def ordinalAssociation(binned: DataFrame, grpCol: String): DataFrame = {
    val cells = binned.groupBy(col(grpCol), col("xb"), col("yb"))
      .agg(count(lit(1)).as("c"))
    val cd = cells.as("a")
      .join(cells.as("b"),
        col(s"a.$grpCol") === col(s"b.$grpCol") &&
          (col("a.xb") < col("b.xb") ||
            (col("a.xb") === col("b.xb") && col("a.yb") < col("b.yb"))))
      .select(col(s"a.$grpCol").as(grpCol),
        (col("a.c") * col("b.c")).as("m"),
        ((col("b.xb") - col("a.xb")) * (col("b.yb") - col("a.yb"))).as("prod"))
      .groupBy(col(grpCol))
      .agg(sum(when(col("prod") > 0, col("m")).otherwise(0L)).as("nc"),
        sum(when(col("prod") < 0, col("m")).otherwise(0L)).as("nd"))
    val tot = cells.groupBy(col(grpCol))
      .agg(sum(col("c")).as("n"),
        countDistinct(col("xb")).as("rx"),
        countDistinct(col("yb")).as("ry"))
      .withColumn("n0", col("n") * (col("n") - 1) / 2)
    val tx = cells.groupBy(col(grpCol), col("xb")).agg(sum(col("c")).as("cx"))
      .groupBy(col(grpCol)).agg(sum(col("cx") * (col("cx") - 1) / 2).as("n1"))
    val ty = cells.groupBy(col(grpCol), col("yb")).agg(sum(col("c")).as("cy"))
      .groupBy(col(grpCol)).agg(sum(col("cy") * (col("cy") - 1) / 2).as("n2"))
    tot.join(cd, Seq(grpCol), "left").join(tx, Seq(grpCol)).join(ty, Seq(grpCol))
      .withColumn("ncc", coalesce(col("nc"), lit(0L)))
      .withColumn("ndd", coalesce(col("nd"), lit(0L)))
      .withColumn("s", col("ncc") - col("ndd"))
      .select(col(grpCol), col("n"),
        col("ncc").as("concordant"), col("ndd").as("discordant"),
        when(col("ncc") + col("ndd") > 0,
          round(col("s").cast("double") / (col("ncc") + col("ndd")), 6)
            + lit(0.0)).as("gamma"),
        when(col("n0") > col("n1"),
          round(col("s").cast("double") / (col("n0") - col("n1")), 6)
            + lit(0.0)).as("somers_dyx"),
        when(col("n0") > col("n2"),
          round(col("s").cast("double") / (col("n0") - col("n2")), 6)
            + lit(0.0)).as("somers_dxy"),
        when(least(col("rx"), col("ry")) > 1,
          round(lit(2.0) * least(col("rx"), col("ry")) * col("s")
            / (col("n").cast("double") * col("n")
              * (least(col("rx"), col("ry")) - 1)), 6) + lit(0.0)).as("tau_c"))
  }
}
