package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication over an unbounded document feed — the streaming
  * analog of the batch dedup family (`dedup/ExactDedup`, `dedup/MinHashLsh`
  * keep-first): a training-data ingest that tails a crawl or log stream
  * needs the same exact/near-dup guarantees per micro-batch, with state
  * that does NOT grow with the stream.
  *
  * Scale story: both operators bound their state by event time. Exact
  * dedup uses `dropDuplicatesWithinWatermark`, so the state store holds one
  * digest per distinct document seen within the watermark horizon — not per
  * document ever seen. The keep-first bucket dedup holds one (bucket →
  * first-doc) entry with an event-time timeout, expiring buckets the
  * watermark has passed. Neither shuffles more than once per micro-batch
  * (the groupBy key is the state key).
  */
object StreamDedup {

  /** A streamed document: `bucket` is any blocking key — a minhash band
    * signature, a simhash prefix, a URL host — computed upstream.
    */
  case class DocEvent(docId: Long, bucket: String, ts: java.sql.Timestamp, content: String)

  /** Keep-first verdict for one document against its bucket's state. */
  case class DedupVerdict(docId: Long, bucket: String, kept: Boolean, firstDocId: Long)

  /** Exact content dedup across micro-batches: one surviving row per
    * content digest, duplicate arrivals within `watermark` of the first
    * are dropped. State = one digest per distinct doc inside the horizon.
    */
  def exactDedup(docs: DataFrame, contentCol: String, tsCol: String,
                 watermark: String): DataFrame =
    docs
      .withColumn("_digest", md5(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Near-dup keep-first per blocking bucket: the first document a bucket
    * sees is `kept`; later arrivals are flagged with the keeper's id (the
    * streaming form of the batch `groupBy(digest).agg(min(...))` + join
    * keep-first). Bucket state expires `horizonMs` past the watermark, so
    * a boilerplate bucket seen forever holds ONE long-lived entry, not an
    * ever-growing list.
    */
  def keepFirstPerBucket(docs: Dataset[DocEvent], watermark: String,
                         horizonMs: Long = 3600 * 1000L): Dataset[DedupVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Long, DedupVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bucket: String, events: Iterator[DocEvent], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = sortedBatch(events)
            val first = state.getOption.getOrElse(batch.head.docId)
            state.update(first)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), 0L) + horizonMs)
            batch.iterator.map(e => verdict(e, bucket, first))
          }
      }
  }

  /** The shared within-group order and per-event verdict both the
    * streaming closure and the batch replay apply — parity by
    * construction. (ts, docId) is a total order whenever doc ids are
    * unique, so tied timestamps fold deterministically.
    */
  private def sortedBatch(events: Iterator[DocEvent]): Seq[DocEvent] =
    events.toSeq.sortBy(e => (e.ts.getTime, e.docId))

  private def verdict(e: DocEvent, bucket: String, first: Long): DedupVerdict =
    DedupVerdict(e.docId, bucket, kept = e.docId == first, first)

  /** DISTRIBUTED batch replay of [[keepFirstPerBucket]] — the backfill
    * shape and the oracle surface: one `flatMapGroups` per bucket
    * applying the identical sort + verdict.
    * A backfill's "batch" is the whole history, so `first` is simply the
    * group head; state per bucket is ONE long, and the replay shuffles
    * the feed once on the bucket key.
    */
  def batchKeepFirstDs(docs: Dataset[DocEvent]): Dataset[DedupVerdict] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.bucket).flatMapGroups {
      (bucket: String, events: Iterator[DocEvent]) =>
        val batch = sortedBatch(events)
        val first = batch.head.docId
        batch.iterator.map(e => verdict(e, bucket, first))
    }
  }
}
