package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Statistical-invariant checks over the stats/sketch gates (q211, q213,
  * q214, q227, q230 and q258) at sf0.001 — the oracle proves cross-engine
  * equality; these prove the STATISTICS behave: bounds hold, estimates
  * track exact values, weights and gains stay in range.
  */
class StatGatesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect()

  test("q211: HLL overlap estimates track the exact Jaccard") {
    val rs = rows("q211_hll_overlap")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val exactJ = r.getAs[Long]("n_exact_inter").toDouble /
        r.getAs[Long]("n_exact_union")
      val estJ = r.getAs[Double]("jaccard_est")
      // m=16 registers is a coarse sketch — the bound is loose but real;
      // a broken union/inclusion-exclusion lands far outside it
      assert(math.abs(estJ - exactJ) <= 0.35,
        f"pair ${r.getString(0)}/${r.getString(1)}: est $estJ%.3f vs exact $exactJ%.3f")
      assert(r.getAs[Double]("est_union") > 0)
    }
  }

  test("q213: JSD is bounded by ln 2 and nonnegative") {
    val rs = rows("q213_js_divergence")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val j = r.getAs[Double]("jsd")
      assert(j >= 0.0 && j <= math.log(2.0) + 1e-9,
        s"jsd $j outside [0, ln 2]")
      // both columns are independently 6dp-rounded -> up to ~1.5e-6 slack
      assert(math.abs(r.getAs[Double]("jsd_bits") - j / math.log(2.0)) < 2e-6)
    }
  }

  test("q214: all d(d-1)/2 dim pairs present exactly once, r in [-1, 1], symmetric vs recompute") {
    val rs = rows("q214_dim_corr")
    assert(rs.length == 64 * 63 / 2, s"expected 2016 pairs, got ${rs.length}")
    val keys = rs.map(r => (r.getAs[Long]("dim_i"), r.getAs[Long]("dim_j")))
    assert(keys.distinct.length == rs.length)
    keys.foreach { case (i, j) =>
      assert(i >= 1 && j <= 64 && i < j, s"bad pair ($i, $j)")
    }
    rs.foreach { r =>
      val v = r.getAs[Double]("r")
      assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"r $v out of range")
    }
    // spot-check one cell against a driver-side recompute from the raw vecs
    val vecs = graft.core.Tables.embeddings(spark, dir)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val (xi, xj) = (vecs.map(_(0)), vecs.map(_(1)))
    val n = vecs.length.toDouble
    val (si, sj) = (xi.sum, xj.sum)
    val num = n * xi.zip(xj).map { case (a, b) => a * b }.sum - si * sj
    val den = math.sqrt(n * xi.map(a => a * a).sum - si * si) *
      math.sqrt(n * xj.map(a => a * a).sum - sj * sj)
    val want = num / den
    val got = rs.find(r => r.getAs[Long]("dim_i") == 1 && r.getAs[Long]("dim_j") == 2)
      .get.getAs[Double]("r")
    assert(math.abs(got - want) < 1e-4, s"r(1,2): gate $got vs recompute $want")
  }

  test("q227: ESS is bounded by n and the ratio lives in (0, 1]") {
    val rs = rows("q227_ess_weights")
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val n = r.getAs[Long]("n")
      val ess = r.getAs[Double]("ess")
      assert(ess > 0 && ess <= n + 1e-6, s"ess $ess vs n $n")
      val ratio = r.getAs[Double]("ess_ratio")
      assert(ratio > 0 && ratio <= 1.0 + 1e-9)
    }
  }

  test("q230: class-balanced weights average to 1 and shrink with class size") {
    val rs = rows("q230_cb_weights")
    assert(rs.nonEmpty)
    val mean = rs.map(_.getAs[Double]("w_norm")).sum / rs.length
    assert(math.abs(mean - 1.0) < 1e-4, s"mean weight $mean")
    val byN = rs.sortBy(_.getAs[Long]("n"))
    byN.sliding(2).foreach { w =>
      if (w.length == 2 && w(0).getAs[Long]("n") < w(1).getAs[Long]("n"))
        assert(w(0).getAs[Double]("w_raw") >= w(1).getAs[Double]("w_raw"),
          "raw weight must be non-increasing in class size")
    }
  }

  test("q258: deciles tile the corpus, gains are monotone and end at 1") {
    val rs = rows("q258_decile_lift").sortBy(_.getAs[Long]("decile"))
    assert(rs.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val gains = rs.map(_.getAs[Double]("cum_gain"))
    assert(gains.zip(gains.tail).forall { case (a, b) => a <= b })
    assert(gains.last == 1.0)
    // equal-size tiling up to remainder spread
    val sizes = rs.map(_.getAs[Long]("n_d"))
    assert(sizes.max - sizes.min <= 1)
  }
}
