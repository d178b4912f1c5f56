package graft.streaming

import org.apache.spark.sql.Dataset

/** STREAMING EWMA FORECAST — the unbounded-feed twin of the batch
  * smoother (q186 / [[graft.operators.Ewma]]): per key, each arriving
  * bucket count is compared against the forecast its PRIOR history
  * implied, then folded into the running average. State is two numbers
  * per key, forever — where a windowed formulation would hold the whole
  * horizon per key and recompute weights every trigger.
  *
  * α is fixed at 1/2, matching the batch operator's exact dyadic
  * closed form: the fold `e' = (x + e) / 2` seeded with the first
  * observation reproduces `2^n·e_n = 2·x_1 + Σ 2^{i-1}·x_i` bit-for-bit
  * (every operand is a dyadic rational), so a streaming deployment and
  * a batch backfill of the same feed agree EXACTLY — no
  * stream-vs-batch drift to reconcile (the [[StreamRateAnomaly]]
  * score-before-fold discipline, applied to forecasting).
  */
object StreamEwma {

  /** The replay sorts on `(bucket, n)` — every field beyond the group
    * key — so rows tied on that key are value-identical and the fold is
    * permutation-stable. Keep this a total order over the row VALUES if
    * a payload field is ever added.
    */
  case class BucketCount(key: String, bucket: Long, n: Long)

  /** (ewma, nSeen): the running α=1/2 average and how many buckets fed it. */
  case class EwmaState(ewma: Double, nSeen: Long)

  /** `forecast` is what the prior history predicted for this bucket
    * (NaN-free: 0-history buckets forecast their own value, error 0);
    * `err` the signed surprise; `ewma` the smoothed level AFTER folding.
    */
  case class Forecasted(key: String, bucket: Long, n: Long,
                        forecast: Double, err: Double, ewma: Double,
                        nSeen: Long)

  private[streaming] def fold(s: EwmaState, x: Double): EwmaState =
    if (s.nSeen == 0L) EwmaState(x, 1L)
    else EwmaState((x + s.ewma) / 2.0, s.nSeen + 1L)

  /** The ONE forecast-then-fold step every form applies through
    * [[KeyedFold]] — parity by construction, not by copy-paste.
    */
  private def step(s: EwmaState, b: BucketCount): (EwmaState, Forecasted) = {
    val x = b.n.toDouble
    val fc = if (s.nSeen == 0L) x else s.ewma
    val next = fold(s, x)
    (next, Forecasted(b.key, b.bucket, b.n, fc, x - fc, next.ewma, next.nSeen))
  }

  /** The (bucket, n) replay key is a TOTAL order over the row, so tied
    * buckets fold identically whatever the shuffle delivered (r9 advice) —
    * tied rows that differ in n fold smallest-n first.
    */
  private val keyed = KeyedFold[BucketCount, EwmaState, Forecasted, (Long, Long)](
    _.key, EwmaState(0.0, 0L), b => (b.bucket, b.n))(step)

  /** Forecast-then-fold each bucket against its key's running average.
    * Update-mode output: one row per arriving bucket.
    */
  def forecasted(buckets: Dataset[BucketCount]): Dataset[Forecasted] = keyed.streamed(buckets)

  /** DISTRIBUTED batch replay of the same fold — the backfill shape, and
    * the q204 oracle surface: one `flatMapGroups` per key applying the
    * identical [[step]] in bucket order. State is two numbers per key and
    * each group holds one row per observed bucket (the forecast horizon),
    * so a 100 TB backfill shuffles each key's daily counts once and folds
    * them in one pass — no window over the horizon, no recomputed
    * weights.
    */
  def batchForecastedDs(buckets: Dataset[BucketCount]): Dataset[Forecasted] = keyed.replayed(buckets)

  /** Batch replay of the same fold for parity testing and backfill. */
  def batchForecasted(buckets: Seq[BucketCount]): Seq[Forecasted] = keyed.replayedSeq(buckets)
}
