package graft.streaming

import org.apache.spark.sql.Dataset

/** DGIM SLIDING-WINDOW COUNTING (Datar, Gionis, Indyk, Motwani 2002) —
  * "how many hits in the last N ticks, per key, forever" with
  * O(log² N) state instead of a buffer of N events: hits coalesce into
  * exponentially-sized buckets (at most TWO of each power-of-2 size),
  * expired buckets drop off the tail, and the estimate counts full
  * buckets plus HALF the oldest — the published ≤ 50 % worst-case error,
  * exact whenever the window still holds ≤ 2 buckets of each size.
  *
  * The windowed-aggregate formulation holds every event in the watermark
  * horizon and reshuffles it each trigger; this keeps ~2·log₂N (size,
  * time) pairs per key in `flatMapGroupsWithState` — the
  * [[StreamRateAnomaly]]/[[StreamEwma]] bounded-state discipline applied
  * to windowed counting.
  */
object StreamDgim {

  /** A hit has no payload beyond its tick: within a key group, rows tied
    * on `time` are value-identical, so the time sort below is a total
    * order over row VALUES and the fold is replay-stable by construction
    * (the StreamEwma tiebreak concern does not arise here — proven by the
    * StreamDgimSpec "tied timestamps replay identically across 10 runs"
    * case, which folds a dup-heavy input under varying partitionings).
    * If Hit ever grows a payload field, add it to the [[KeyedFold]] order.
    */
  case class Hit(key: String, time: Long)

  /** DGIM buckets, newest first: (size, most-recent-hit time). */
  case class DgimState(sizes: List[Long], times: List[Long])

  case class Estimate(key: String, time: Long, estimate: Long, nBuckets: Int)

  private[streaming] def insert(s: DgimState, t: Long, window: Long): DgimState = {
    // new hit = size-1 bucket at the head; cascade-merge triples
    var sizes = 1L :: s.sizes
    var times = t :: s.times
    // merge while any size occurs 3 times: the two OLDEST of that size
    // combine (keeping the newer of their two times)
    var merged = true
    while (merged) {
      merged = false
      val sz = sizes.toArray; val tm = times.toArray
      var i = 0
      while (i + 2 < sz.length && !merged) {
        if (sz(i) == sz(i + 1) && sz(i + 1) == sz(i + 2)) {
          // indices i+1 and i+2 are the two oldest of this size
          val ns = sz.take(i + 1) ++ Array(sz(i + 1) * 2) ++ sz.drop(i + 3)
          val nt = tm.take(i + 1) ++ Array(tm(i + 1)) ++ tm.drop(i + 3)
          sizes = ns.toList; times = nt.toList
          merged = true
        }
        i += 1
      }
    }
    // expire buckets whose last hit fell out of the window
    val keep = times.zip(sizes).filter { case (bt, _) => bt > t - window }
    DgimState(keep.map(_._2), keep.map(_._1))
  }

  private[streaming] def estimate(s: DgimState): Long =
    if (s.sizes.isEmpty) 0L
    else s.sizes.init.sum + (s.sizes.last + 1) / 2

  /** The ONE insert-then-estimate step every form applies through
    * [[KeyedFold]] — parity by construction.
    */
  private def step(window: Long)(s: DgimState, h: Hit): (DgimState, Estimate) = {
    val next = insert(s, h.time, window)
    (next, Estimate(h.key, h.time, estimate(next), next.sizes.length))
  }

  private def keyed(window: Long) =
    KeyedFold[Hit, DgimState, Estimate, Long](_.key, DgimState(Nil, Nil), _.time)(step(window))

  /** Per arriving hit: the DGIM estimate of hits in `(t−window, t]`. */
  def counted(hits: Dataset[Hit], window: Long): Dataset[Estimate] = keyed(window).streamed(hits)

  /** DISTRIBUTED batch replay of the same fold — the backfill shape, and
    * the q205 oracle surface: one `flatMapGroups` per key applying the
    * identical [[step]] in time order. State stays the O(log² N) bucket
    * list; each group holds that key's hit sequence (bounded by the tick
    * horizon, not the corpus), so the replay shuffles once on the key and
    * folds in one pass.
    */
  def batchCountedDs(hits: Dataset[Hit], window: Long): Dataset[Estimate] = keyed(window).replayed(hits)

  /** Batch replay of the same fold for parity testing and backfill. */
  def batchCounted(hits: Seq[Hit], window: Long): Seq[Estimate] = keyed(window).replayedSeq(hits)
}
