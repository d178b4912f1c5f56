package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
  * Goldstein 1998): greedily pick the candidate maximizing
  * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` so the final page is relevant
  * AND non-redundant — the standard fix for near-duplicate result pages
  * that plain top-k cosine (q13) serves.
  *
  * Scale shape: MMR is by definition a re-rank of a bounded candidate
  * page — the cluster does the corpus-wide work (the top-`candK` cosine
  * scan is a codegen TakeOrdered), then the greedy loop runs on the
  * collected page in the driver (candK² sims, ~400 doubles; the bounded-
  * collect discipline of [[KMeans]]' k centroids). Nothing quadratic
  * ever touches the corpus.
  *
  * Determinism: rel and pairwise sims are 6dp-rounded before the greedy
  * arithmetic, ties break by vec_id — so the pick sequence replays
  * bit-for-bit in the SQL oracle's unrolled steps (the q142 trained-
  * model discipline).
  */
object MmrRerank {

  private[search] def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `CosineSimilarity`'s loop, so a driver-side score equals the column's. */
  private[search] def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Greedy MMR over an already-collected candidate page
    * `(id, vector, relevance)` — the bounded driver-side core shared by
    * [[rerank]] and the engine's diversified search mode. Returns
    * `(pick, id, score)` in pick order.
    */
  def greedy[I: Ordering](cands: Seq[(I, Array[Double], Double)], k: Int,
             lambda: Double): Seq[(Int, I, Double)] = {
    // arbitrary callers may pass duplicate ids; the loop must be bounded
    // by the DISTINCT id count or the final minBy runs on empty
    val uniq = cands.distinctBy(_._1)
    val sim: Map[(I, I), Double] = (for {
      a <- uniq; b <- uniq if a._1 != b._1
    } yield (a._1, b._1) -> round6(cosine(a._2, b._2))).toMap
    var selected = Vector.empty[(Int, I, Double)]
    var remaining = uniq.map(c => c._1 -> c._3).toMap
    for (step <- 1 to math.min(k, uniq.length)) {
      val pick = remaining.toSeq.map { case (id, rel) =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.map(s => sim((id, s._2))).max
        (id, lambda * rel - (1 - lambda) * penalty)
      }.minBy { case (id, score) => (-score, id) }
      selected :+= ((step, pick._1, round6(pick._2)))
      remaining -= pick._1
    }
    selected
  }

  /** `(pick, vec_id, mmr_score)` — the k-item diversified page. */
  def rerank(embeddings: DataFrame, idCol: String, vecCol: String,
             probeId: Long, candK: Int, k: Int, lambda: Double): DataFrame = {
    val spark = embeddings.sparkSession
    val vecs = embeddings.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val qv = KnnSearch.vectorOf(embeddings, idCol, vecCol, probeId).toArray

    // bounded candidate page: TakeOrdered over the corpus, then collect
    val cands: Array[(Long, Array[Double], Double)] = vecs
      .filter(col("vec_id") =!= probeId)
      .select(col("vec_id"), col("v"),
        round(VectorOps.cosine(col("v"), VectorOps.vecLit(qv.toSeq)), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(candK)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

    import spark.implicits._
    greedy(cands.toSeq, k, lambda).toDF("pick", "vec_id", "mmr_score")
  }
}
