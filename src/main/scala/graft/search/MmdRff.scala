package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maximum Mean Discrepancy between two embedding populations via random
  * Fourier features (Gretton et al. 2012; Rahimi-Recht 2007): the
  * embedding-space drift statistic: it sees DISTRIBUTIONAL drift in the
  * vector space itself (did this month's embeddings move?) without any
  * pairwise kernel.
  *
  * MMD̂² = ‖ μ̂_X − μ̂_Y ‖² over D features z_j(x) = √(2/D)·cos(w_j·x+b_j),
  * w ~ N(0, 1/σ²)ᵈ, b ~ U[0, 2π) — O(n·D·d), one corpus pass, one agg.
  *
  * Determinism ladder: (w, b) are derived ONCE from md5 in driver Scala
  * and injected as shortest-round-trip decimal literals into BOTH
  * engines (neither engine recomputes them); each per-row dot product
  * is an explicit left-associated 64-term chain so the expression tree
  * is identical; features are ROUNDED to 6dp before aggregation, so the
  * group sums are exact in double (≤20 fractional bits × n ≪ 2⁵³) and
  * partition-order-independent; the final D-term MMD² chain is in-row.
  */
object MmdRff {

  val Dims = 64
  val Features = 8
  val Sigma = 8.0 // RBF bandwidth: embeddings are unit-ish, keep args tame

  /** Deterministic uniform in (0,1) from an md5-derived 60-bit integer —
    * the same construction the q109/q35 hash buckets use, done in JVM.
    */
  private def u(tag: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tag.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2147483647L + 1).toDouble / 2147483648.0
  }

  /** Box-Muller N(0,1) scaled by 1/σ. */
  private def gauss(tag: String): Double =
    math.sqrt(-2.0 * math.log(u(tag + ":u1"))) *
      math.cos(2.0 * math.Pi * u(tag + ":u2")) / Sigma

  /** The frozen feature bank: w(j)(d) and b(j). */
  lazy val w: Array[Array[Double]] =
    Array.tabulate(Features, Dims)((j, d) => gauss(s"mmd:$j:$d"))
  lazy val b: Array[Double] =
    Array.tabulate(Features)(j => 2.0 * math.Pi * u(s"mmd:b:$j"))

  private val scale = math.sqrt(2.0 / Features)

  /** z_j(x) as a column over an array<float> embedding column. */
  def feature(emb: Column, j: Int): Column = {
    val dot = (0 until Dims).map(d =>
      lit(w(j)(d)) * element_at(emb, d + 1).cast("double"))
      .reduceLeft(_ + _)
    round(lit(scale) * cos(dot + lit(b(j))), 6)
  }

  /** One row: n_x, n_y, mmd2 (+ the per-feature mean gaps as a witness
    * column). `inX` selects the reference population.
    */
  def twoSample(df: DataFrame, embCol: String, inX: Column): DataFrame = {
    val feats = (0 until Features).foldLeft(
      df.select(when(inX, 1L).otherwise(0L).as("isx"), col(embCol).as("e"))) {
      (acc, j) => acc.withColumn(s"f$j", feature(col("e"), j))
    }
    val aggs = Seq(
      sum(col("isx")).as("n_x"),
      sum(lit(1L) - col("isx")).as("n_y")) ++
      (0 until Features).flatMap { j =>
        Seq(sum(when(col("isx") === 1, col(s"f$j")).otherwise(lit(0.0))).as(s"sx$j"),
          sum(when(col("isx") === 0, col(s"f$j")).otherwise(lit(0.0))).as(s"sy$j"))
      }
    val g = feats.agg(aggs.head, aggs.tail: _*)
    val mmd2 = (0 until Features).map { j =>
      val gap = col(s"sx$j") / col("n_x") - col(s"sy$j") / col("n_y")
      gap * gap
    }.reduceLeft(_ + _)
    g.select(col("n_x"), col("n_y"), round(mmd2, 6).as("mmd2"))
  }

  /** The oracle twin: identical literals, identical tree, rendered as
    * DuckDB SQL over the `embeddings` table (array column `embedding`).
    */
  def oracleSql(inXSql: String): String = {
    // 17 significant digits always round-trips to the identical double
    def lit(v: Double): String = f"$v%.17e"
    val featExprs = (0 until Features).map { j =>
      val dot = (0 until Dims).map(d =>
        s"${lit(w(j)(d))} * CAST(embedding[${d + 1}] AS DOUBLE)")
        .mkString(" + ")
      s"round(${lit(scale)} * cos($dot + ${lit(b(j))}), 6) AS f$j"
    }.mkString(",\n|         ")
    val sums = (0 until Features).map { j =>
      s"sum(CASE WHEN isx = 1 THEN f$j ELSE 0.0 END) AS sx$j,\n" +
        s"|             sum(CASE WHEN isx = 0 THEN f$j ELSE 0.0 END) AS sy$j"
    }.mkString(",\n|             ")
    val mmd = (0 until Features).map { j =>
      s"(sx$j / n_x - sy$j / n_y) * (sx$j / n_x - sy$j / n_y)"
    }.mkString(" + ")
    s"""WITH f AS (
       |  SELECT CASE WHEN $inXSql THEN 1 ELSE 0 END AS isx,
       |         $featExprs
       |  FROM embeddings),
       |g AS (SELECT CAST(sum(isx) AS BIGINT) AS n_x,
       |             CAST(sum(1 - isx) AS BIGINT) AS n_y,
       |             $sums
       |      FROM f)
       |SELECT n_x, n_y, round($mmd, 6) AS mmd2 FROM g""".stripMargin
  }
}
