package graft.streaming

import org.apache.spark.sql.Dataset

/** STREAMING RATE-ANOMALY DETECTION — the unbounded-feed twin of the
  * batch z-score detector (q116_rate_anomaly): per key, each arriving
  * bucket count is scored against the running mean/variance of every
  * PRIOR bucket, maintained as Welford aggregates in `mapGroupsWithState`
  * state — three doubles per key, forever, regardless of stream length
  * (a windowed-aggregate formulation would hold one row per bucket in
  * the watermark horizon and re-shuffle history every trigger).
  *
  * Buckets must arrive in order per key (upstream bucketing + watermark
  * gives exactly that); each is scored BEFORE being folded in, so a
  * burst never desensitizes the baseline that judges it.
  */
object StreamRateAnomaly {

  case class BucketCount(key: String, bucket: Long, n: Long)

  /** Welford running aggregates: count, mean, M2 (sum of squared
    * deviations).
    */
  case class RateState(cnt: Long, mean: Double, m2: Double)

  case class Scored(key: String, bucket: Long, n: Long,
                    z: Double, baselineMean: Double, nBuckets: Long)

  private[streaming] def fold(s: RateState, x: Double): RateState = {
    val cnt = s.cnt + 1
    val d = x - s.mean
    val mean = s.mean + d / cnt
    RateState(cnt, mean, s.m2 + d * (x - mean))
  }

  private[streaming] def score(s: RateState, x: Double): Double =
    if (s.cnt < 2) 0.0
    else {
      val sd = math.sqrt(s.m2 / (s.cnt - 1))
      if (sd == 0.0) {
        // zero-variance baseline: infinitely anomalous, but KEEP THE SIGN
        // — an outage (drop) must not alert as a burst
        if (x == s.mean) 0.0
        else if (x > s.mean) Double.PositiveInfinity
        else Double.NegativeInfinity
      }
      else (x - s.mean) / sd
    }

  /** The ONE score-then-fold step every form applies through
    * [[KeyedFold]]: the bucket is scored against the PRIOR baseline, then
    * folded in.
    */
  private def step(s: RateState, b: BucketCount): (RateState, Scored) = {
    val x = b.n.toDouble
    (fold(s, x), Scored(b.key, b.bucket, b.n, score(s, x), s.mean, s.cnt))
  }

  /** Per-trigger arrival order is not guaranteed; buckets are ordered
    * within the batch so replay matches event order.
    */
  private val keyed = KeyedFold[BucketCount, RateState, Scored, Long](
    _.key, RateState(0L, 0.0, 0.0), _.bucket)(step)

  /** Score each bucket against the prior-history baseline of its key.
    * Update-mode output: one Scored row per arriving bucket.
    */
  def scored(buckets: Dataset[BucketCount]): Dataset[Scored] = keyed.streamed(buckets)

  /** DISTRIBUTED batch replay of the same score-then-fold — the backfill
    * shape and the q233 oracle surface: one `flatMapGroups` per key
    * applying the identical [[step]] in bucket order. Buckets are unique
    * per key by construction (they come out of a (key, bucket) groupBy),
    * so the sort is a total order; each group holds that key's bucket
    * series (bounded by the tick horizon, not the corpus), and the replay
    * shuffles once on the key and folds in one pass.
    */
  def batchScoredDs(buckets: Dataset[BucketCount]): Dataset[Scored] = keyed.replayed(buckets)

  /** Batch replay of the same fold for parity testing and backfill. */
  def batchScored(buckets: Seq[BucketCount]): Seq[Scored] = keyed.replayedSeq(buckets)
}
