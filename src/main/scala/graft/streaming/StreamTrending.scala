package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.HeavyHitters

/** STREAMING TRENDING TOKENS — the unbounded-feed form of the batch
  * Misra–Gries heavy hitters (`functions/HeavyHitters`, q131): which
  * tokens dominate the stream so far, with state that NEVER grows past
  * `shards × k` counters no matter how long the stream runs or how large
  * the vocabulary — the property windowed counts can't give (their state
  * is one row per distinct key in the watermark horizon).
  *
  * Tokens shard by content hash, one MG summary per shard as
  * `mapGroupsWithState` state. Sharding preserves the MG guarantee: every
  * occurrence of a token lands in ONE shard, so an item with global count
  * > n/(k+1) has, inside its shard (whose total n_s ≤ n), count
  * > n_s/(k+1) — it must survive that shard's summary. Each trigger emits
  * every updated shard's current candidate set; the exact-verify pass
  * (batch side, as in q131) turns candidates into exact counts.
  */
object StreamTrending {

  case class TokenEvent(token: String, ts: java.sql.Timestamp)

  /** One shard's current MG summary: candidate tokens and their (under-)
    * counts, tokens sorted for deterministic comparison.
    */
  case class ShardSummary(shard: Int, tokens: Array[String], counts: Array[Long],
                          nSeen: Long)

  /** Fold the token stream into `shards` MG(k) summaries. Update-mode
    * output: each trigger re-emits the summaries of shards that saw data.
    */
  def trendingCandidates(toks: Dataset[TokenEvent], k: Int,
                         shards: Int): Dataset[ShardSummary] = {
    import toks.sparkSession.implicits._
    val agg = new HeavyHitters.MgAgg(k)
    toks
      .groupByKey(e => (graft.core.Ids.hash31(e.token) % shards).toInt)
      .mapGroupsWithState[(Map[String, Long], Long), ShardSummary](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, events: Iterator[TokenEvent],
         state: GroupState[(Map[String, Long], Long)]) =>
          val (m0, n0) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          var n = n0
          val m = events.foldLeft(m0) { (m, e) => n += 1; agg.reduce(m, e.token) }
          state.update((m, n))
          val toksSorted = m.keys.toArray.sorted
          ShardSummary(shard, toksSorted, toksSorted.map(m), n)
      }
  }

  /** DISTRIBUTED batch replay of the same fold — the backfill shape and
    * the oracle surface: one `flatMapGroups` per shard folding that
    * shard's tokens through the identical `MgAgg.reduce`. Tokens are sorted first so the fold is
    * replay-stable whatever order the shuffle delivered; MG state stays
    * ≤ k counters per shard however large the shard's stream is.
    */
  def batchSummariesDs(toks: Dataset[TokenEvent], k: Int,
                       shards: Int): Dataset[ShardSummary] = {
    import toks.sparkSession.implicits._
    val agg = new HeavyHitters.MgAgg(k)
    toks
      .groupByKey(e => (graft.core.Ids.hash31(e.token) % shards).toInt)
      .flatMapGroups { (shard: Int, events: Iterator[TokenEvent]) =>
        val ordered = events.toSeq.sortBy(e => (e.ts.getTime, e.token))
        var n = 0L
        val m = ordered.foldLeft(Map.empty[String, Long]) { (m, e) =>
          n += 1; agg.reduce(m, e.token)
        }
        val sorted = m.keys.toArray.sorted
        Iterator.single(ShardSummary(shard, sorted, sorted.map(m), n))
      }
  }

  /** Batch replay of the same fold (for parity testing and backfill): the
    * summaries a run of [[trendingCandidates]] converges to.
    */
  def batchSummaries(tokens: Seq[String], k: Int, shards: Int): Seq[ShardSummary] = {
    val agg = new HeavyHitters.MgAgg(k)
    tokens.groupBy(t => (graft.core.Ids.hash31(t) % shards).toInt)
      .toSeq.sortBy(_._1)
      .map { case (shard, ts) =>
        val m = ts.foldLeft(Map.empty[String, Long])(agg.reduce)
        val sorted = m.keys.toArray.sorted
        ShardSummary(shard, sorted, sorted.map(m), ts.size.toLong)
      }
  }

  /** Streaming query sugar: Update-mode writer to a memory sink. */
  def outputMode: OutputMode = OutputMode.Update()
}
