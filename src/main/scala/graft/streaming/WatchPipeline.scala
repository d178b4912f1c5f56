package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Model.{FileState, ParserResult}
import graft.index.{DeterministicEmbedder, Embedder, IndexPipeline, IndexStore}
import graft.ingest.ParserRegistry

/** Streaming watch pipeline (reference lifecycle SURVEY.md §3.3 — watchdog
  * → debounce/coalesce → incremental index, watcher/handler.py +
  * watcher/debounce.py) as Structured Streaming:
  *
  *   file-event stream → `foreachBatch { coalesce → parse → same merge as
  *   batch indexing }`, with the debounce quiet-period expressed as the
  *   processing-time trigger interval, and per-file coalescing (last event
  *   wins) as a window inside each micro-batch.
  *
  * Event semantics (watcher/handler.py:80-320): created/modified →
  * reparse+upsert; deleted → cascade delete; moved → delete+create (two
  * events).
  */
object WatchPipeline {

  val DefaultDebounceMs = 2000L // reference debounce=2.0s (config/models.py:99)

  case class FileEvent(relPath: String, eventType: String, ts: Long, content: String)

  /** Last event per path wins (the FileChangeCoalescer,
    * watcher/debounce.py:149-260, as a window): at equal timestamps the
    * DESTRUCTIVE event wins (deleted > modified > created) — a same-ms
    * modify+delete must not resurrect the file.
    */
  def coalesce(events: DataFrame): DataFrame = {
    val priority = when(col("eventType") === "deleted", 3)
      .when(col("eventType") === "modified", 2)
      .otherwise(1)
    val w = Window.partitionBy(col("relPath"))
      .orderBy(col("ts").desc, priority.desc)
    events.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Apply one micro-batch of events to the store — the exact batch-merge
    * code path (IndexPipeline.applyChanges), scoped to the touched files.
    * Events are filtered through the batch scan's compiled
    * [[graft.ingest.SourceScan.Surface]] first (reference:
    * watcher/handler.py:102-147 `_should_process_file`), so a file under
    * an excluded tree (or over the size cap) created mid-watch never
    * reaches the parser. Deletes are always in scope: a file that LEFT the
    * surface (e.g. config change) must still cascade out.
    */
  def processBatch(spark: SparkSession, batch: Dataset[FileEvent], storeDir: String,
                   embedder: Embedder = DeterministicEmbedder(),
                   config: graft.core.GraftConfig = graft.core.GraftConfig()): IndexPipeline.IndexingResult = {
    import spark.implicits._
    val surface = graft.ingest.SourceScan.Surface(config)
    val latest = coalesce(batch.toDF()).as[FileEvent]
      .filter(e => e.eventType == "deleted" ||
        surface.admits(e.relPath, e.content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length))
      .cache()
    val upserts = latest.filter(e => e.eventType == "created" || e.eventType == "modified")
    val parsed: Dataset[ParserResult] = upserts.map(e => ParserRegistry.parse(e.relPath, e.content))
    // every coalesced event path (upsert or delete) is replaced — as a join
    // input, not a driver-side Set, same as the batch diff path
    val replaced = latest.map(_.relPath).toDF("relPath")
    // maintain file_state so a later batch index stays incremental. Size
    // must be the UTF-8 BYTE length (what the batch walk's attrs.size
    // reports), not the string's char count — a mismatch would turn every
    // watch-touched file into a prefilter candidate on the next batch run.
    // ts carries the file's mtime (FileWatchSource emits e.mtime as ts).
    val newStates = upserts.map(e => FileState(e.relPath, graft.core.Ids.sha256Hex(e.content),
      e.content.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong, e.ts))
    // one commit for the batch's chunk files and file_state files
    val res = IndexStore.update(storeDir) { snap =>
      val (r, chunkFiles) =
        IndexPipeline.applyChanges(spark, snap, parsed, replaced, snap.exists, embedder)
      val state = snap.state(spark).getOrElse(spark.emptyDataset[FileState].toDF())
        .join(replaced, Seq("relPath"), "left_anti").unionByName(newStates.toDF())
      (Some(chunkFiles ++ IndexStore.writeState(state, storeDir)), r)
    }
    latest.unpersist()
    res
  }

  /** Watch-start semantics (reference: watcher/handler.py:513-552): run a
    * batch index of the project BEFORE streaming events are applied — full
    * on a fresh store, INCREMENTAL otherwise. The incremental pass is the
    * offline-edit catch-up: the watch source's baseline snapshot emits no
    * events for files already on disk, so anything edited while the
    * watcher was down would otherwise never be indexed; the file_state
    * diff picks exactly those up.
    */
  def initialIndexThenWatch(spark: SparkSession, projectDir: String,
                            events: org.apache.spark.sql.Dataset[FileEvent],
                            storeDir: String,
                            checkpointDir: String,
                            embedder: Embedder = DeterministicEmbedder(),
                            debounceMs: Long = DefaultDebounceMs): StreamingQuery = {
    IndexPipeline.index(spark, projectDir, storeDir, embedder)
    start(events, storeDir, embedder, debounceMs, checkpointDir)
  }

  /** Wire a streaming Dataset[FileEvent] into the store. The trigger
    * interval IS the debounce quiet period.
    */
  def start(events: Dataset[FileEvent], storeDir: String,
            embedder: Embedder = DeterministicEmbedder(),
            debounceMs: Long = DefaultDebounceMs,
            checkpointDir: String,
            config: graft.core.GraftConfig = graft.core.GraftConfig()): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(debounceMs))
      .foreachBatch { (batch: Dataset[FileEvent], _: Long) =>
        processBatch(batch.sparkSession, batch, storeDir, embedder, config): Unit
      }
      .start()
}
